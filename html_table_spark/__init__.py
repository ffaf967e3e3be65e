"""html_table_spark — a PySpark-native HTML-table extraction engine.

A from-scratch rebuild (NOT a port) of the query and data-processing
capabilities of bakame-php/html-table, re-expressed Spark-first for an
interleaved text+media document corpus at web scale:

- a correctness kernel (libxml2, the reference's parser, → DOM → grid
  resolver) with the reference's exact semantics, pinned by golden
  fixtures F01–F15;
- Arrow-vectorized `mapInArrow` extraction operator (no per-row Python);
- byte-balanced scan splits and salted repartitioning, each document
  parsed whole;
- snapshot-committed Parquet sink with Iceberg-style resume semantics,
  per-partition lineage + metrics;
- the reference's downstream tabular query surface (filter/sorted/slice/
  nth/fetchPairs/…) as native DataFrame operators;
- training-data-pipeline operators: dedup (exact/MinHash-LSH/SimHash/
  n-gram Jaccard), embedding similarity search, text analysis, multimodal
  column plumbing.

Importing the package runs :func:`patch_zipimport` and nothing else: the
public names below resolve on first use, so the worker daemon
(``fastdaemon.py``) loads neither libxml2 nor the compiled kernel.
"""

from __future__ import annotations

import importlib
import os

__version__ = "0.1.0"

# public name -> the module that defines it, imported on first use
_EXPORTS = {
    name: module
    for module, names in {
        "config": "ALL_SECTIONS TBODY TFOOT THEAD TR ParserConfig",
        "errors": "ParserError",
        "semantics": "Cell ExtractedTable parse_document",
        "spans": "doc_spans_to_html encode_table_spans html_to_doc_spans",
    }.items()
    for name in names.split()
}
__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)


def patch_zipimport() -> bool:
    """Install the mtime-gated zipimporter invalidation. Idempotent; returns
    True when the patch is (already) active, False when the environment does
    not cooperate (C zipimport, unexpected attributes) — stock behavior then
    remains, which is slow but always correct.

    Why: every PySpark task prologue calls ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py``), and on CPython 3.11 each zipimporter then
    EAGERLY re-reads its archive's table of contents, even unchanged
    (CPython gh-83684; 3.12+ resets lazily). With ``pyspark.zip`` and a
    spark-core jar on ``sys.path`` that is ~30 TOCs on EVERY task: 309 ms
    median per task, 10-100x a typical extraction task's Python compute.

    The patch keeps ``invalidate_caches`` SEMANTICS intact: each zipimporter
    re-reads its TOC iff the archive's (mtime_ns, size) changed since the
    last read (or on its first invalidation). New path entries, directory
    finders (``FileFinder``, what ``sc.addPyFile`` relies on for .py files),
    and replaced/rewritten archives all behave exactly as stock CPython; only
    the pointless identical re-read is skipped.

    With the patch a no-op ``mapInArrow`` task still costs 55-80 core-ms
    (local[4], 4 vCPUs, six alternating rounds): PySpark's runner, not ours
    to cut. A ``gc.collect()`` per task (20-26 ms) once came on top of it in
    the extraction operator."""
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


# deliberate import side effect: it reaches the workers of sessions we did
# not configure too (they import the package unpickling our UDFs), and
# through fastdaemon those of session.get_spark before their FIRST task
patch_zipimport()
