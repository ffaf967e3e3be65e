"""The one session builder: explicit local masters, spark-submit, and the
deployed job all go through ``session.get_spark``."""

from __future__ import annotations

import os
import types

import pytest

from html_table_spark import session as session_mod
from html_table_spark.session import DEFAULT_ARROW_BATCH_BYTES, get_spark


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder`` and the session it builds:
    records the master, the builder confs and the runtime confs set once
    the context runs. ``cores`` is the context's ``defaultParallelism``;
    ``submitted`` is the SparkConf spark-submit hands the job (its
    ``--master`` and ``--conf`` values)."""

    def __init__(self):
        self.session = None  # a real session to return, else a stand-in
        self.masters: list[str] = []
        self.confs: dict[str, str] = {}
        self.runtime: dict[str, str] = {}
        self.cores = 4
        self.submitted: dict[str, str] = {}

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
        if self.session is not None:
            return self.session
        conf = types.SimpleNamespace(contains=self.submitted.__contains__)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(
                defaultParallelism=self.cores, getConf=lambda: conf
            ),
            conf=types.SimpleNamespace(set=self.runtime.__setitem__),
        )


@pytest.fixture
def recorder(monkeypatch):
    rec = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession", types.SimpleNamespace(builder=rec))
    monkeypatch.setattr(
        session_mod, "SparkConf", lambda: types.SimpleNamespace(get=rec.submitted.get)
    )
    monkeypatch.setattr(
        session_mod, "SparkContext", types.SimpleNamespace(_ensure_initialized=lambda: None)
    )
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
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(session_mod.__file__)))
DAEMON_CONFS = {
    "spark.python.daemon.module": "html_table_spark.fastdaemon",
    "spark.executorEnv.PYTHONPATH": REPO_ROOT,
}


def test_explicit_local_master_confs(recorder):
    get_spark("t", master="local[4]")
    assert recorder.masters == ["local[4]"]
    assert recorder.confs == {**SHARED_CONFS, **DAEMON_CONFS}
    assert recorder.runtime == {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.minPartitionNum": "8",
    }


def test_bare_local_master_sizes_from_the_box(recorder, monkeypatch):
    """No master: ``local[*]``, or ``local[$SPARK_GRAFT_CPUS]``. Either
    way the sizing comes from the context's cores, not a fixed 32-core
    assumption."""
    recorder.cores = 6
    get_spark("t")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    get_spark("t")
    assert recorder.masters == ["local[*]", "local[3]"]
    assert recorder.runtime == {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.minPartitionNum": "12",
    }


def test_spark_submit_leaves_master_to_submit(recorder, monkeypatch):
    """``submit.sh``'s own ``local[N]``: spark-submit's ``--master`` wins
    (no ``.master()`` call), and the session gets the confs, the sizing
    and the daemon of ``get_spark(master="local[N]")``."""
    get_spark("t", master="local[4]")
    explicit = (dict(recorder.confs), dict(recorder.runtime))
    for recorded in (recorder.masters, recorder.confs, recorder.runtime):
        recorded.clear()
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    recorder.submitted["spark.master"] = "local[4]"
    get_spark("t")
    assert recorder.masters == []
    assert (recorder.confs, recorder.runtime) == explicit


@pytest.mark.parametrize("master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn"])
def test_spark_submit_cluster_master_keeps_spark_sizing(recorder, monkeypatch, master):
    """A cluster master gets no daemon (a cluster's daemon boots before
    ``--py-files`` land) and no sizing: its executors register after the
    context starts, so the cores it reports then are no measure of the
    cluster. ``SPARK_GRAFT_CPUS`` never demotes it to a local master."""
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    recorder.submitted["spark.master"] = master
    recorder.cores = 2
    get_spark("t")
    assert recorder.masters == []
    assert recorder.confs == SHARED_CONFS
    assert recorder.runtime == {}


def test_submitted_conf_wins_over_the_sizing(recorder, monkeypatch):
    """``--conf spark.sql.shuffle.partitions=N`` (or spark-defaults.conf)
    wins on a local master: the session leaves it as submitted and still
    sizes the scan split floor."""
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    recorder.submitted.update(
        {"spark.master": "local[4]", "spark.sql.shuffle.partitions": "3"}
    )
    get_spark("t")
    assert recorder.runtime == {"spark.sql.files.minPartitionNum": "8"}


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
