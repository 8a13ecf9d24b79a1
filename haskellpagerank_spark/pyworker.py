"""The one door every Python kernel goes through on its way to a worker.

Every ``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` (grouped and
cogrouped) / ``applyInPandasWithState`` kernel the engine submits is wrapped
by :func:`python_kernel`; tests/test_pyworker.py fails on any call site that
bypasses it.

Why (measured numbers in session.py): PySpark 4.1 starts every task with
``importlib.invalidate_caches()``, and up to CPython 3.12 that makes every
zip importer the worker holds re-read its archive's whole central directory
-- a dozen importers on ``pyspark.zip``, two on the py4j zip, two on the
spark-core jar -- before the kernel starts. CPython 3.13 made the call lazy,
so there the guard below stays out of the way.

The guard replaces ``zipimporter.invalidate_caches`` once per process with
one that re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since the last read, and otherwise reuses the directory
already in ``zipimport._zip_directory_cache``. A rewritten or replaced
archive is still re-read, once for all of its importers. In each worker
the first task pays the full cost (its set-up runs before any kernel is
unpickled), the second reads each archive once to record its stamp, and
later tasks read none. The guard is installed the first time a wrapped
kernel runs in a process, so only Python workers get it (the driver never
calls a kernel), and it needs no Spark conf, environment variable or custom
daemon module: a daemon module that arrives through ``--py-files`` at task
time (scripts/submit.sh) cannot be imported when the daemon starts.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport
from collections.abc import Callable
from typing import TypeVar

K = TypeVar("K", bound=Callable)

_GUARD_FLAG = "_skips_unchanged_archives"
# CPython 3.13 made zipimporter.invalidate_caches lazy; before it, eager
_EAGER_ZIP_INVALIDATION = sys.version_info < (3, 13)

# archive path -> (st_mtime_ns, st_size, st_ino) taken just before its last
# successful directory read in this process
_read_at: dict[str, tuple[int, int, int]] = {}
# directory re-reads the guard skipped in this process (a diagnostic)
reads_skipped = 0


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_guard() -> bool:
    """Install the unchanged-archive guard in this process (idempotent);
    return whether it is active. A no-op on CPython >= 3.13."""
    if not _EAGER_ZIP_INVALIDATION:
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, _GUARD_FLAG, False):
        return True
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        global reads_skipped
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            reads_skipped += 1
            return
        reread(self)
        # the key was taken before the read, so a write racing the read
        # shows up as a changed key next time
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key
        else:
            _read_at.pop(self.archive, None)

    setattr(invalidate_caches, _GUARD_FLAG, True)
    cls.invalidate_caches = invalidate_caches
    return True


def python_kernel(fn: K) -> K:
    """Wrap a kernel for ``mapInPandas``/``applyInPandas``/... . The wrapper
    calls ``fn`` unchanged, after making sure the worker running it has the
    zip guard. ``__signature__`` keeps ``fn``'s argument count visible to
    PySpark (``inspect.getfullargspec`` ignores ``__wrapped__``), which
    decides from it whether ``applyInPandas`` passes the group key."""

    @functools.wraps(fn)
    def run(*args):
        install_zip_guard()
        return fn(*args)

    run.__signature__ = inspect.signature(fn)
    return run  # type: ignore[return-value]
