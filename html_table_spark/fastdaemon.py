"""Python-worker daemon with mtime-gated zip-TOC cache invalidation.

Why this exists — measured on this engine's extraction hot path: every
PySpark task prologue calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``), and on CPython 3.11
``zipimport.zipimporter.invalidate_caches()`` EAGERLY re-reads the whole
archive table-of-contents from disk — even when the archive is unchanged
(CPython gh-83684; 3.12+ resets lazily instead). With the Spark
distribution's workers importing through ``pyspark.zip`` and a spark-core
jar sitting on ``sys.path``, that is ~30 zipimporter entries re-reading
TOCs on EVERY task: measured 309 ms median per task on this host — 10-100x
the actual Python compute of a typical extraction task, and the dominant
term in the Spark-vs-multiprocessing per-core throughput gap at high
parallelism.

The patch keeps ``invalidate_caches`` SEMANTICS intact: each zipimporter
re-reads its TOC iff the archive's (mtime_ns, size) changed since the last
read (or on its first invalidation). New path entries, directory finders
(``FileFinder`` — what ``sc.addPyFile`` relies on for .py files), and
replaced/rewritten archives all behave exactly as stock CPython; only the
pointless identical re-read is skipped.

What a task still costs with the patch active (local[4], 4 vCPUs, one-row
partitions of a cached DataFrame, six alternating rounds): a no-op
``mapInArrow`` task takes 55-80 core-ms, i.e. 128 tasks in 2.30-2.78 s of
stage wall. That is PySpark's runner (task launch, worker handshake,
closure unpickling, Arrow stream set-up) and not ours to cut. The
extraction operator used to run a full ``gc.collect()`` at the end of
every task on top of it (20-26 ms for the 43k objects a process with the
worker's imports tracks): its 128 tasks took 3.70-4.53 s. Without the
collection they take 2.56-3.03 s, level with the no-op. The split sizing
in ``session.get_spark`` (≈2 tasks per core, by bytes) keeps the number
of prologues per job small.

Activation: ``spark.python.daemon.module=html_table_spark.fastdaemon``
with this package importable by the worker Python (in local mode,
``session.get_spark`` arranges both; on a cluster, ship the package via
``--py-files`` AND point ``spark.executorEnv.PYTHONPATH`` at a location
that exists before the daemon boots — the daemon imports before Spark's
per-task pyfile setup runs, which is also why this module must not import
anything outside the stdlib + pyspark).
"""

from __future__ import annotations

import os


def apply() -> bool:
    """Install the mtime-gated zipimporter invalidation. Idempotent; returns
    True when the patch is (already) active, False when the environment does
    not cooperate (C zipimport, unexpected attributes) — stock behavior then
    remains, which is slow but always correct."""
    try:
        import zipimport

        cls = zipimport.zipimporter
        if getattr(cls, "_htmltable_fast_invalidate", False):
            return True
        orig = cls.invalidate_caches

        def _sig(path):
            try:
                st = os.stat(path)
                return (st.st_mtime_ns, st.st_size)
            except (OSError, TypeError):
                # TypeError: the defensive getattr(self, "archive", None)
                # default feeds None here when a zipimporter(-subclass)
                # lacks a usable .archive — degrade to stock behavior
                # instead of crashing every task prologue's
                # importlib.invalidate_caches()
                return None

        def invalidate_caches(self):  # noqa: ANN001 — stdlib signature
            sig = _sig(getattr(self, "archive", None))
            if (
                sig is not None
                and getattr(self, "_htmltable_toc_sig", None) == sig
            ):
                return
            orig(self)
            try:
                self._htmltable_toc_sig = sig
            except AttributeError:
                # C-implemented zipimporter (no instance dict): cannot
                # memoize — leave stock behavior for this instance
                pass

        cls.invalidate_caches = invalidate_caches
        cls._htmltable_fast_invalidate = True
        return True
    except Exception:
        return False


if __name__ == "__main__":
    apply()
    import pyspark.daemon

    pyspark.daemon.manager()
