"""Snapshot-committed Parquet sink with Iceberg-style resume semantics.

The north rule requires the job to be "resumable from the last committed
checkpoint snapshot" with per-partition lineage + metrics.  On a cluster
with an Iceberg catalog this is a ``writeTo(...).append()`` whose snapshot
IS the checkpoint (SURVEY.md §4.3).  This sandbox ships no Iceberg jars, so
:class:`SnapshotSink` reproduces the observable contract over plain Parquet:

- every run writes its data under ``data/run_id=<id>/`` (atomic at the
  directory level: the path is invisible to readers until committed);
- a commit is one JSON manifest atomically renamed into ``_commits/`` after
  the write succeeds — a crashed run leaves data files but NO manifest, so
  readers and resume logic never see partial output (exactly Iceberg's
  snapshot discipline, minus compaction);
- ``read_committed`` unions only committed run directories (time-travel =
  read a manifest prefix);
- ``remaining_documents`` anti-joins the source against committed doc_ids —
  the restart path.  The anti-join build side is the committed-ids
  projection, pruned to one column so Catalyst can broadcast it when small.

The same class writes the lineage table (one row per extraction partition
per run) under ``lineage/run_id=<id>/`` inside the same commit, mirroring
"write lineage in the same transaction" (SURVEY.md §4.3).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .documents import EXTRACTED_SCHEMA, LINEAGE_SCHEMA


class SnapshotSink:
    def __init__(self, root: str):
        # the manifest/commit layer uses driver-local filesystem calls; on a
        # distributed output (s3://, hdfs://) the commit dir would silently
        # land on the driver's local disk and resume would find nothing —
        # refuse loudly and point at the Iceberg path instead
        if "://" in root and not root.startswith("file://"):
            raise ValueError(
                f"SnapshotSink requires a local/file path, got {root!r}: on a "
                "cluster, write to an Iceberg table (iceberg://...) whose "
                "catalog provides the snapshot/commit semantics this sink "
                "emulates locally"
            )
        if root.startswith("file://"):
            root = root[len("file://"):]
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.lineage_dir = os.path.join(root, "lineage")
        self.commits_dir = os.path.join(root, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    # -- write path ----------------------------------------------------

    def new_run_id(self) -> str:
        return uuid.uuid4().hex[:12]

    def data_path(self, run_id: str) -> str:
        return os.path.join(self.data_dir, f"run_id={run_id}")

    def lineage_path(self, run_id: str) -> str:
        return os.path.join(self.lineage_dir, f"run_id={run_id}")

    def commit_run(self, run_id: str, data_path: str, lineage_path: str | None) -> dict:
        """Publish already-written run directories as one atomic snapshot.
        Until this rename lands, readers and resume logic see nothing."""
        manifest = {
            "run_id": run_id,
            "seq": self._next_seq(),
            "committed_at_unix": time.time(),
            "data_path": data_path,
            "lineage_path": lineage_path,
        }
        self._commit(manifest)
        return manifest

    def _next_seq(self) -> int:
        # highest seq across committed manifests AND outstanding claims, so
        # a crashed-but-claimed seq is never reissued
        highest = 0
        for f in os.listdir(self.commits_dir):
            if f.startswith("commit-") or f.startswith(".seq-"):
                try:
                    highest = max(highest, int(f.split("-")[1].split(".")[0]))
                except (IndexError, ValueError):
                    continue
        return highest + 1

    def _commit(self, manifest: dict) -> None:
        # two concurrent runs must not share a seq (time travel assumes seq
        # is a unique snapshot id): claim the seq with O_CREAT|O_EXCL and
        # move to the next on collision
        while True:
            seq = manifest["seq"]
            claim = os.path.join(self.commits_dir, f".seq-{seq:06d}")
            try:
                os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                manifest["seq"] = seq + 1
        name = f"commit-{manifest['seq']:06d}-{manifest['run_id']}.json"
        tmp = os.path.join(self.commits_dir, f".tmp-{manifest['run_id']}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(self.commits_dir, name))  # atomic commit

    # -- read path -----------------------------------------------------

    def _manifest_files(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.commits_dir)
            if f.startswith("commit-") and f.endswith(".json")
        )

    def manifests(self) -> list[dict]:
        out = []
        for name in self._manifest_files():
            with open(os.path.join(self.commits_dir, name)) as fh:
                out.append(json.load(fh))
        return out

    def read_committed(self, spark: SparkSession, as_of_seq: int | None = None,
                       schema=None) -> DataFrame:
        """Committed rows across snapshots. ``schema`` defaults to the table
        pipeline's EXTRACTED_SCHEMA; sinks carrying another row shape (e.g.
        the main-content job's block rows) pass their own StructType or DDL
        string — resume only ever projects doc_id, so it is shape-agnostic."""
        if schema is None:
            schema = EXTRACTED_SCHEMA
        paths = [
            m["data_path"]
            for m in self.manifests()
            if as_of_seq is None or m["seq"] <= as_of_seq
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        # recursiveFileLookup: a committed run's data_path holds its files in
        # leg subdirectories (run_job writes normal/; runs committed by the
        # earlier two-leg plan also hold mega/) — read every data file under
        # it with the explicit schema, no partition inference from the
        # directory names
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        paths = [m["lineage_path"] for m in self.manifests() if m.get("lineage_path")]
        if not paths:
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(*paths)

    def remaining_documents(self, documents: DataFrame) -> DataFrame:
        """Resume: keep only docs not present in any committed snapshot.

        Left-anti join on doc_id — Catalyst/AQE broadcasts the distinct-ids
        side when it is small enough; at 10^12-doc scale the committed set
        is bucketable by the same doc_id hash, keeping this a co-located
        join on a real cluster. Null-safe: a null doc_id is committed like
        any other, and a plain equality would never match it, so every
        resumed run would extract that document again.
        """
        spark = documents.sparkSession
        done = self.read_committed(spark).select("doc_id").distinct()
        return documents.join(
            done, documents["doc_id"].eqNullSafe(done["doc_id"]), "left_anti"
        )
