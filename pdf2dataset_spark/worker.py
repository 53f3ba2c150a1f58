"""Per-task setup of the PySpark Python worker that runs an engine UDF.

The module imports nothing of the package, so a UDF outside the
extraction pass (the WebDataset shard writer and reader) can call
:func:`setup_task` without loading ``sources.codecs`` or ``minipdf``
on its worker.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport
from collections.abc import Callable

from pyspark import TaskContext

#: attempt id of the task :func:`setup_task` last ran for
_task_attempt: int | None = None


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_if_changed(zi: zipimport.zipimporter) -> Callable[[], None]:
    """``zi.invalidate_caches`` that re-reads the archive directory only
    when the archive's (mtime, size) moved since the last read."""
    reread = zi.invalidate_caches
    seen = _archive_stamp(zi.archive)

    def invalidate_caches() -> None:
        nonlocal seen
        stamp = _archive_stamp(zi.archive)
        if stamp is None or stamp != seen:
            reread()
            seen = stamp

    return invalidate_caches


def skip_unchanged_zip_rereads() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading zip
    archives that have not changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). On Python
    3.10+ that makes every cached ``zipimporter`` re-read its whole
    archive directory: one read of ``pyspark.zip`` (~1.3k entries)
    per imported pyspark subpackage and two of the spark-core jar
    (~5.4k entries) — 0.16-0.23 s of CPU per task before the UDF
    runs. Each cached zipimporter not yet wrapped gets an instance
    ``invalidate_caches`` that re-reads only when its archive's
    ``(st_mtime_ns, st_size)`` changed, so imports see exactly what a
    re-read would find. The stamp is taken when wrapping, which
    follows the task's own start-of-task re-read. Idempotent and
    cheap (one pass over ``sys.path_importer_cache``), so it runs on
    every task and also wraps importers created by later imports.
    """
    for finder in list(sys.path_importer_cache.values()):
        if (
            isinstance(finder, zipimport.zipimporter)
            and "invalidate_caches" not in vars(finder)
        ):
            finder.invalidate_caches = _reread_if_changed(finder)


def setup_task() -> None:
    """Prepare a reused Python worker for the Spark task it is running:
    the zip guard (:func:`skip_unchanged_zip_rereads`), then
    ``gc.freeze()``.

    A reused worker runs a full ``gc.collect()`` after every task (the
    worker-reuse loop of ``pyspark/daemon.py``). That collection walks
    the worker's whole heap: the modules, codec tables and caches of
    every earlier task, ~74k tracked objects and about 30 ms of CPU
    per task on a 4-vCPU VM, although nearly all of it outlives every
    task. Freezing at task start moves whatever is alive into the
    permanent generation, so the collection walks only what this task
    allocates. Freezing is O(1) and runs on every task, so it also
    covers modules a later task imports lazily. Frozen objects are
    still freed by reference counting; only reference cycles among
    objects alive at a task's start escape the collector, and since
    the daemon has just collected the previous task's garbage, these
    stay few (the frozen count levels off after the first tasks).

    Runs once per task attempt: a grouped-map UDF calls it for every
    group, and only the first call of a task does the work. Outside a
    Spark task (a test calling a UDF body in its own process) it does
    nothing, so it never freezes a driver's heap.
    """
    global _task_attempt
    ctx = TaskContext.get()
    if ctx is None or ctx.taskAttemptId() == _task_attempt:
        return
    _task_attempt = ctx.taskAttemptId()
    skip_unchanged_zip_rereads()
    gc.freeze()
