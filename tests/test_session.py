"""The one session builder: explicit local masters, spark-submit, and the
deployed job all go through ``session.get_spark``."""

from __future__ import annotations

import os
import types

import pytest

from html_table_spark import session as session_mod
from html_table_spark.session import DEFAULT_ARROW_BATCH_BYTES, get_spark


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records master and confs."""

    def __init__(self, session=None):
        self.session = session
        self.masters: list[str] = []
        self.confs: dict[str, str] = {}

    def appName(self, name):
        self.app = name
        return self

    def master(self, master):
        self.masters.append(master)
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return self.session


@pytest.fixture
def recorder(monkeypatch):
    rec = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession", types.SimpleNamespace(builder=rec))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    return rec


SHARED_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.limit.initialNumPartitions": "1024",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": "32m",
    "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def test_explicit_local_master_confs(recorder):
    get_spark("t", master="local[4]")
    assert recorder.masters == ["local[4]"]
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(session_mod.__file__)))
    assert recorder.confs == {
        **SHARED_CONFS,
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.minPartitionNum": "32",
        "spark.python.daemon.module": "html_table_spark.fastdaemon",
        "spark.executorEnv.PYTHONPATH": repo_root,
    }


def test_bare_local_master_sizes_from_the_box(recorder, monkeypatch):
    """``local[*]`` takes this box's core count for shuffle partitions and
    the scan-split floor — not a fixed 32-core assumption."""
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    get_spark("t")
    threads = os.cpu_count()
    assert recorder.masters == ["local[*]"]
    assert recorder.confs["spark.sql.shuffle.partitions"] == str(max(8, threads))
    assert recorder.confs["spark.sql.files.minPartitionNum"] == str(8 * threads)


def test_spark_submit_leaves_master_to_submit(recorder, monkeypatch):
    """Under spark-submit --master wins: no .master() call, and the cluster
    branch sets no local-only confs (partitions, split floor, fastdaemon)."""
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    get_spark("t")
    assert recorder.masters == []
    assert recorder.confs == SHARED_CONFS


def test_job_builds_its_session_with_get_spark(spark, recorder, monkeypatch, tmp_path):
    """The deployed job runs with the confs the benchmark measures: 1024-row
    Arrow batches and the 64 MB byte cap."""
    import html_table_spark.plans.job as job
    from html_table_spark.corpus import synthesize_documents
    from html_table_spark.sources.documents import DOCUMENTS_SCHEMA

    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        synthesize_documents(n_docs=6, seed=1), DOCUMENTS_SCHEMA
    ).write.parquet(src)
    recorder.session = spark
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    manifest = job.main(["--input", src, "--output", str(tmp_path / "out")])
    assert manifest["run_id"]
    assert recorder.app == "html-table-extract"
    assert recorder.masters == []
    assert recorder.confs["spark.sql.execution.arrow.maxRecordsPerBatch"] == "1024"
    assert recorder.confs["spark.sql.execution.arrow.maxBytesPerBatch"] == str(
        DEFAULT_ARROW_BATCH_BYTES
    )
