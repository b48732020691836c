"""Per-worker-process runtime tuning for the Python task boundary.

Every PySpark task pays two fixed Python-worker costs that are pure
overhead for a serving engine, measured with an instrumented
``pyspark/worker.py`` timeline on this engine's per-shard kernels (see
OPTIMIZATION_r06.md, "The Python task floor"):

1. ``importlib.invalidate_caches()`` — called by
   ``worker_util.setup_spark_files`` at the START of EVERY task.
   CPython's ``zipimport.zipimporter.invalidate_caches`` (3.11+)
   eagerly re-reads the zip's whole central directory, and the worker's
   ``sys.path_importer_cache`` holds one zipimporter PER PACKAGE PREFIX
   inside ``pyspark.zip`` (``pyspark.zip/pyspark``,
   ``pyspark.zip/pyspark/sql``, ...), so one invalidation re-parses the
   ~2,700-entry directory ~25 times: measured 144-150 ms per task — the
   largest term in the ~210 ms Python-task floor on this box. A worker
   never mutates the pyspark distribution mid-process, so the
   invalidation buys nothing; it is made a no-op per worker process.
   Plain directory ``FileFinder`` entries keep their normal (lazy,
   cheap) invalidation — only zip archives are affected.

2. ``gc.collect()`` — called by ``pyspark/daemon.py`` after EVERY task,
   serially, before the worker can accept the next one. A full
   collection walks every tracked object; with numpy + pandas + pyarrow
   imported that is hundreds of thousands of objects (~50 ms measured).
   ``gc.freeze()`` once per worker — after the heavy libraries are
   imported — moves the import-time object graph into the permanent
   generation, which collection skips; the post-task collect then scans
   only task-created objects. This is the documented CPython idiom for
   long-lived worker processes. Frozen objects are module-level state
   that ``sys.modules`` keeps alive regardless, so nothing collectable
   is lost.

Both effects are process-local and idempotent. They are applied from
``fts_engine_spark/__init__`` — i.e. exactly once per worker process,
when the first task whose kernel references this library unpickles its
command — and only inside a PySpark worker (daemon children inherit
``PYTHON_WORKER_FACTORY_SECRET`` in TCP mode or
``PYTHON_WORKER_FACTORY_SOCK_DIR`` in Unix-domain-socket mode); driver
and test processes are left untouched. On a real cluster the same two
costs recur on every executor's workers (they are upstream PySpark
behavior, not a local-mode artifact), so the ~0.2 s/task saving scales
with task count.
"""

from __future__ import annotations

import gc
import os

_tuned = False

_WORKER_ENV = (
    # daemon.py, TCP mode: the auth secret its forked workers inherit
    "PYTHON_WORKER_FACTORY_SECRET",
    # daemon.py, Unix-domain-socket mode: the socket directory
    "PYTHON_WORKER_FACTORY_SOCK_DIR",
    # non-daemon worker.py in UDS mode: its own socket path
    "PYTHON_WORKER_FACTORY_SOCK_PATH",
)


def _in_pyspark_worker() -> bool:
    # the driver/test process has none of these
    return any(k in os.environ for k in _WORKER_ENV)


def tune_worker() -> None:
    """Apply the two worker tunings above; no-op on repeat calls and in
    non-worker processes."""
    global _tuned
    if _tuned:
        return
    _tuned = True
    if not _in_pyspark_worker():
        return
    try:
        import zipimport

        zipimport.zipimporter.invalidate_caches = (  # type: ignore[method-assign]
            lambda self: None
        )
    except Exception:  # pragma: no cover - zipimport always importable
        pass
    try:
        # make sure the freeze covers the heavy import graphs every
        # kernel ends up pulling in anyway (Arrow serializer path
        # included); then move them to the permanent generation
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.sql.pandas.serializers  # noqa: F401
    except Exception:  # pragma: no cover - all are hard deps of pyspark
        pass
    gc.freeze()
