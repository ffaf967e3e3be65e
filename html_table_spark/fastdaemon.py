"""The Python-worker daemon of local sessions
(``spark.python.daemon.module=html_table_spark.fastdaemon``, set with the
worker ``PYTHONPATH`` by ``session.get_spark``; on a cluster the package
must be on a ``PYTHONPATH`` that exists before the daemon boots, as it
imports before Spark's per-task pyfile setup runs).

What it imports before it forks the workers: the package ``__init__``
(runpy imports it first; it installs the zipimport patch,
``html_table_spark.patch_zipimport``, and imports nothing else), then
``pyspark.daemon``. Not the kernel (libxml2, the compiled ``_tree``): each
worker imports it on its first extraction task. Importing it in the daemon
did not shorten the first task: first-job wall of a fresh ``local[4]``
session on a 4-core box, five alternating rounds each, 3.62-4.67 s (median
4.11 s) with it, 3.75-4.49 s (median 4.10 s) without.
"""

if __name__ == "__main__":
    import pyspark.daemon

    pyspark.daemon.manager()
