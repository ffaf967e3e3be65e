"""The deployed job end to end: ``scripts/submit.sh`` on a two-executor
``local-cluster`` master, each executor compiling the tree walker from the
shipped zip into an empty cache. Every document gets the Spark-free
kernel's rows, the one-file corpus is salted into the cluster's cores,
lineage covers every extraction partition, a resubmit adds nothing, and
the script leaves nothing in its ``TMPDIR``. The session ``get_spark``
builds under spark-submit, on a local and a cluster master. And
``submit.sh`` hands TERM to spark-submit, and removes its zip only once
spark-submit is gone."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import synthesize_documents, write_corpus_dir
from html_table_spark.sources.documents import EXTRACTED_SCHEMA
from tests.test_pipeline import _full_kernel_rows, _full_rows

REPO = Path(__file__).resolve().parents[1]
SUBMIT = str(REPO / "scripts" / "submit.sh")

needs_spark_submit = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit is not on PATH"
)


def _submit(corpus: str, out: str, env: dict) -> dict:
    proc = subprocess.run(
        [SUBMIT, corpus, out, "--driver-memory", "1g"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    assert not os.listdir(env["TMPDIR"]), "submit.sh left files in its TMPDIR"
    return json.loads([line for line in proc.stdout.splitlines() if line.startswith('{"run_id"')][-1])


@needs_spark_submit
def test_submit_on_local_cluster(spark, tmp_path):
    rows = synthesize_documents(n_docs=300, seed=19)
    corpus = str(tmp_path / "corpus")
    write_corpus_dir(rows, corpus, n_shards=1)
    for d in ("tmp", "cache"):
        (tmp_path / d).mkdir()
    env = {
        **os.environ,
        "SPARK_MASTER": "local-cluster[2,1,1024]",
        "TMPDIR": str(tmp_path / "tmp"),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
    }
    out = str(tmp_path / "out")

    manifest = _submit(corpus, out, env)
    data = spark.read.schema(EXTRACTED_SCHEMA).option("recursiveFileLookup", "true").parquet(
        manifest["data_path"]
    )
    assert _full_rows(data.collect()) == _full_kernel_rows(rows, ParserConfig().all_tables())
    # one lineage row per extraction partition that held documents, its
    # counts equal to that partition's rows
    lineage = {r.part_id: r for r in spark.read.parquet(manifest["lineage_path"]).collect()}
    by_part = {
        r.part_id: r
        for r in data.groupBy("part_id")
        .agg(F.countDistinct("doc_id").alias("docs"), F.count(F.lit(1)).alias("rows"))
        .collect()
    }
    assert set(lineage) == set(by_part)
    # one file keeps one scan task busy, so the job salts it into the
    # context's defaultParallelism as planned: 2 on this master (two
    # one-core executors, and Spark's floor of 2 before they register)
    assert len(lineage) == 2
    assert all(
        (lineage[p].doc_count, lineage[p].table_count) == (r.docs, r.rows)
        for p, r in by_part.items()
    )
    assert sum(r.doc_count for r in lineage.values()) == len(rows)

    again = _submit(corpus, out, env)
    assert again["run_id"] != manifest["run_id"]
    assert spark.read.schema(EXTRACTED_SCHEMA).option("recursiveFileLookup", "true").parquet(
        again["data_path"]
    ).count() == 0


PROBE = """
from html_table_spark.session import get_spark
spark = get_spark("probe")
print("PROBE", spark.sparkContext.getConf().get("spark.python.daemon.module"),
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.files.minPartitionNum", None))
spark.stop()
"""


@needs_spark_submit
@pytest.mark.parametrize(
    "master,conf,expected",
    [
        # submit.sh's default: the daemon and the sizing of
        # get_spark(master="local[2]"), except what --conf holds
        ("local[2]", ["--conf", "spark.sql.shuffle.partitions=3"],
         ["html_table_spark.fastdaemon", "3", "4"]),
        # executors register after the context starts: Spark's sizing
        # stands, and no daemon
        ("local-cluster[2,1,1024]", [], ["None", "200", "None"]),
    ],
)
def test_spark_submit_session(tmp_path, master, conf, expected):
    """The session ``get_spark`` builds under spark-submit."""
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    proc = subprocess.run(
        ["spark-submit", "--master", master, "--driver-memory", "1g", *conf, str(probe)],
        env={**os.environ, "PYTHONPATH": str(REPO)}, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("PROBE")][-1]
    assert line.split()[1:] == expected


# Stands in for spark-submit: records that the zip is there while it runs,
# and whether TERM reached it with the zip still in place.
STUB = """#!/usr/bin/env bash
zip="$4"
[[ -f "$zip" ]] && echo running > "$STUB_DIR/state"
sleep 60 &
trap '[[ -f "$zip" ]] && echo term-with-zip > "$STUB_DIR/state"; kill $!; exit 143' TERM
wait $!
"""


def test_submit_forwards_term_and_cleans_up(tmp_path):
    bin_dir, tmp = tmp_path / "bin", tmp_path / "tmp"
    bin_dir.mkdir()
    tmp.mkdir()
    stub = bin_dir / "spark-submit"
    stub.write_text(STUB)
    stub.chmod(0o755)
    env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "TMPDIR": str(tmp),
        "STUB_DIR": str(tmp_path),
    }
    proc = subprocess.Popen([SUBMIT, "in", "out"], env=env)
    state = tmp_path / "state"
    deadline = time.monotonic() + 60
    while not (state.exists() and state.read_text()) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert state.read_text().strip() == "running"
    proc.send_signal(signal.SIGTERM)
    assert proc.wait(timeout=30) == 143
    assert state.read_text().strip() == "term-with-zip"
    assert not os.listdir(tmp), "submit.sh left files in its TMPDIR"
