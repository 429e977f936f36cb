"""Python-worker daemon with the engine's heavy deps preloaded.

Spark forks Python workers from a long-lived daemon process
(``python -m pyspark.daemon``). Module imports that happen AFTER the
fork are paid once per worker: with 32 cores, the first Arrow/pandas
stage of every cold JVM spawns 32 workers that each import numpy,
pyarrow and pandas concurrently (~1-2 s apiece, all fighting for the
same cores as the tasks they serve). Measured on ``ivf_serve_large``
(r16): the NumPy scoring stage ran 26 executor-CPU-seconds but 195
run-seconds — wait, mostly first-use worker spawn — and a warm
session re-ran the same serve in 3.3 s vs 10.6 s cold.

This module is a drop-in ``spark.python.daemon.module`` target that
imports those deps ONCE in the daemon, so every forked worker
inherits them by copy-on-write — the standard preload-then-fork
pattern. Set by ``session.get_spark`` (a static conf; external
sessions can adopt it the same way they adopt ``ALLOCATOR_PINS``).

Import-time safety (corrected r17, per the r16 advisory): importing
numpy DOES start OpenBLAS's thread pool immediately on this build
(measured: 32 threads before any BLAS call), so the daemon forks from
a multithreaded process. This is safe here because modern OpenBLAS
registers pthread_atfork handlers that reinitialize the pool in the
child — a dependency this module now states explicitly rather than
assuming lazily-created pools. Pinning OPENBLAS_NUM_THREADS=1 in the
daemon was considered and rejected: the external driver runs the
registry queries through the DEFAULT pyspark daemon (none of our
confs), so a thread-count pin applied only here could bitwise-diverge
any thread-count-sensitive BLAS reduction between the bench path and
the oracle path — the exact class of drift the engine's bit-exactness
arguments exclude. pyarrow's pools remain lazily created.

r17: the daemon also swaps ``pyspark.zip`` sys.path entries for their
unzipped sibling directory (``$SPARK_HOME/python``) before anything
heavy loads — see :func:`_prefer_unzipped_pyspark`. That rewrite, the
preload imports and ``manager()`` all run under ``__main__`` only, so
importing this module (tests, tooling) changes nothing. Workers call
``importlib.invalidate_caches()`` once per task
(pyspark/worker_util.py::setup_spark_files), and since Python 3.10
that re-reads every cached zipimporter's central directory;
pyspark.zip's ~3000-entry directory costs ~98 ms per call measured
single-process here (cProfile over a stateful-stream head put ~95 %
of worker Python time in ``zipimport._read_directory``). The same
modules imported from the real directory make that call a cheap
FileFinder cache clear, for every Python task of every head.
"""

import os
import sys


def _prefer_unzipped_pyspark() -> None:
    """Replace ``…/pyspark.zip`` on ``sys.path`` with its unzipped
    sibling ``…/python`` directory (the standard Spark layout ships
    both, byte-identical), evict the zip's cached finders, and repoint
    any already-imported package ``__path__`` entries into the zip —
    so no zipimporter for it survives or is ever re-created, and the
    per-task ``importlib.invalidate_caches()`` in every Python worker
    stops re-parsing the archive's central directory (~98 ms/task
    measured; guide §4.5 — per-task setup is overhead, not work).

    No-op when the sibling directory is missing (zip-only install) or
    anything looks unexpected: built as new lists first, committed
    only when consistent."""
    zips: dict[str, str] = {}
    for p in sys.path:
        if os.path.basename(p) == "pyspark.zip":
            root = os.path.normpath(os.path.join(p, os.pardir, os.pardir))
            if os.path.isfile(os.path.join(root, "pyspark", "__init__.py")):
                zips[os.path.normpath(p)] = root
    if not zips:
        return
    sys.path[:] = [zips.get(os.path.normpath(p), p) for p in sys.path]
    for key in list(sys.path_importer_cache):
        kn = os.path.normpath(key)
        if any(kn == z or kn.startswith(z + os.sep) for z in zips):
            del sys.path_importer_cache[key]
    for mod in list(sys.modules.values()):
        paths = getattr(mod, "__path__", None)
        if not isinstance(paths, list):
            continue  # namespace packages manage their own _path
        for i, entry in enumerate(paths):
            en = os.path.normpath(entry)
            for z, root in zips.items():
                if en == z:
                    paths[i] = root
                elif en.startswith(z + os.sep):
                    paths[i] = os.path.join(root, en[len(z) + 1 :])


if __name__ == "__main__":
    # Spark starts the daemon as ``python -m <module>``; importing this
    # module anywhere else has no side effects
    _prefer_unzipped_pyspark()

    import numpy  # noqa: F401  (preload: every Arrow scorer / decode path)
    import pyarrow  # noqa: F401  (preload: Arrow batch serialization)

    try:  # pandas is the heaviest worker import (mapInPandas paths)
        import pandas  # noqa: F401
    except ImportError:  # pragma: no cover - pandas ships with pyspark
        pass

    from pyspark.daemon import manager

    manager()
