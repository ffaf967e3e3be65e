"""SparkSession construction tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Arrow batches default to 10k rows; with multi-KB..MB HTML documents per
# row that overshoots Python worker memory. 1024 docs/batch quarters the
# number of batch boundaries vs the round-2 value of 256 — each boundary
# costs IPC framing plus per-batch buffer materialization on both sides,
# measured ~5% of pass-1 wall at sf0.1 (round-3 Arrow-copy reduction;
# SURVEY.md §4.3 "Arrow batch sizing"). The record cap alone bounds
# nothing when rows are mega docs of unbounded size (1024 multi-MB rows =
# a multi-GB batch): DEFAULT_ARROW_BATCH_BYTES is the actual memory
# guarantee — the JVM cuts a batch at whichever cap hits first, so typical
# batches ride the record cap (~3 MB) and mega-doc runs the byte cap.
DEFAULT_ARROW_BATCH = 1024
DEFAULT_ARROW_BATCH_BYTES = 64 * 1024 * 1024


def get_spark(
    app_name: str = "html-table-spark", master: str | None = None
) -> SparkSession:
    """The one session builder, shared by tests, bench and the deployed job.

    The master is ``master``, else spark-submit's ``--master`` (under
    spark-submit: ``PYSPARK_GATEWAY_PORT`` set), else
    ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when unset). A local master,
    ``submit.sh``'s own included, boots Python workers through
    ``fastdaemon`` and sizes tasks from its ``defaultParallelism`` P
    unless ``--conf`` (or spark-defaults.conf) holds the key. Any other
    master keeps Spark's sizing: its executors register after the context
    starts."""
    builder = SparkSession.builder.appName(app_name)
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        builder = builder.master(master)
    else:
        # spark-submit's --master wins; read it only to choose the daemon.
        # SparkConf holds the submitted values once the gateway is up.
        SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master", "")
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # CollectLimit escalation starts at ONE partition and quadruples —
        # a selective limit/first (the tabular, similarity and corpus
        # operators call them) otherwise runs ~5 SEQUENTIAL mini-jobs
        # before it has scanned the input (measured 0.35 s serial at
        # local[32]). Start wide: a full first pass is cheaper than the
        # serialized escalation ladder.
        .config("spark.sql.limit.initialNumPartitions", "1024")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(DEFAULT_ARROW_BATCH_BYTES),
        )
        # one doc row can be multi-MB; cap scan split size so a handful of
        # mega-docs cannot land in one input split
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # Spark packs files into a split by bytes + openCostInBytes each.
        # Spark's 4 MB default outweighs every file of a typical corpus
        # shard (≤330 KB in the benchmark corpora), so packing went by file
        # COUNT: 32 tasks for 32 shards, mega-doc shards stacked together.
        # 64 KB lets the bytes decide. Not 0: the split size then falls
        # below one row group, and the empty byte ranges each still pay a
        # Python task (a 4-file corpus became 9 tasks, 5 of them empty).
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off: it costs serial driver time per stage
        .config("spark.ui.enabled", "false")
    )
    local = master == "local" or master.startswith("local[")
    if local:
        # Boot Python workers through fastdaemon so the zip-TOC
        # invalidation patch is active from the FIRST task (the
        # package-import hook in __init__ only catches a worker after its
        # first unpickle of our code). Measured on this host: 205 -> 68 ms
        # per Python task (identity mapInArrow, 256 tasks, local[16]).
        # A core conf, fixed when the context starts, and local-only: a
        # cluster's daemon boots BEFORE --py-files are materialized, so
        # there it must be shipped via an operator-managed PYTHONPATH
        # instead (fastdaemon.py docstring).
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra_pp = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.python.daemon.module", "html_table_spark.fastdaemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + (os.pathsep + extra_pp if extra_pp else ""),
        )
    spark = builder.getOrCreate()
    if local:
        # A local context's P is its thread count from the start; a
        # cluster's counts the executor cores registered so far (2 before
        # any has), which would cap every shuffle of a large cluster.
        # Spark's file-split formula, split = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes / minPartitionNum)), gives ≈2
        # tasks per core by bytes. Every Python task pays a fixed 55-80
        # core-ms (patch_zipimport in __init__.py), so more, smaller waves
        # cost more than the straggler tail they trim: on 4 cores, seed-1
        # perfbench bulk went from 32 tasks (largest 1.46x the mean bytes)
        # to 9 (1.22x), and skew from 19 tasks (2.85x) to 10 (1.58x, at
        # most one mega doc each).
        cores = spark.sparkContext.defaultParallelism
        submitted_conf = spark.sparkContext.getConf()
        for key, value in (
            ("spark.sql.shuffle.partitions", max(8, cores)),
            ("spark.sql.files.minPartitionNum", 2 * cores),
        ):
            if not submitted_conf.contains(key):
                spark.conf.set(key, str(value))
    return spark
