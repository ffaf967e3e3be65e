"""End-to-end extraction pipeline: one pass + lineage + resume.

Plan shape (SURVEY.md §3.4, §4.3) — a plan-shape decision, no custom
Catalyst rules:

    scan (doc_id, spans; splits packed by bytes, ≈2 per core)
    → JVM-side HTML reassembly → extraction (mapInArrow)
    → one write → per-partition lineage agg → snapshot commit

Every document parses whole, in place, as the reference parses each page
in one ``loadHTML`` (Parser.php:446). The kernel's cost is about linear in
HTML bytes, so the scan's byte-balanced splits (``session.get_spark``:
files weighed by their bytes, not counted) already balance the work; a
task costs at most the larger of its split and its largest document. The
only shuffle is :func:`salted`, which engages when the scan can keep too
few tasks busy, e.g. a one-file corpus whose byte ranges hold one row
group between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ParserConfig
from ..operators.extract import html_reassembly_col, make_arrow_extractor
from ..operators.util import scan_parallelism
from ..sources.documents import EXTRACTED_SCHEMA
from ..sources.sinks import SnapshotSink


def salted(documents: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic salted repartition (north rule: explicit skew control).

    Repartitions on the FULL-ENTROPY hash, not a pre-modded salt: feeding P
    distinct salt values through the partitioner's own hash is balls-in-
    bins — ~1/e of the P partitions would come out empty and others would
    stack 2-3 salts. The hash rides the repartition expression directly —
    no withColumn/drop pair (each intermediate Dataset is a full analyzer
    pass, serial driver time)."""
    return documents.repartition(num_partitions, F.xxhash64("doc_id"))


def plan_extraction(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """The one extraction pass, lazy: ``documents(doc_id, spans)`` →
    ``EXTRACTED_SCHEMA`` rows. One select reassembles each document's HTML
    on the scan's partitions, where the documents are extracted unless
    they can keep fewer than half of ``num_partitions`` tasks busy
    (:func:`~html_table_spark.operators.util.scan_parallelism`: a
    one-row-group file fills one split however many it is cut into), when
    the (doc_id, html) rows take a salted repartition first.
    ``num_partitions`` defaults to the context's ``defaultParallelism`` as
    the plan is built: a local master's cores, or the executor cores a
    cluster has registered by then (``--conf spark.default.parallelism=N``
    sets it).

    Plan construction is deliberately terse: every intermediate Dataset
    costs a full Catalyst analyzer pass over the whole subtree, serial
    driver time before any task runs."""
    if num_partitions is None:
        num_partitions = documents.sparkSession.sparkContext.defaultParallelism
    source = documents.select("doc_id", html_reassembly_col("spans").alias("html"))
    # a streaming input passes through (.rdd is illegal on its plan): the
    # trigger sizes its micro-batches (maxFilesPerTrigger)
    if not documents.isStreaming and scan_parallelism(documents) < max(2, num_partitions // 2):
        source = salted(source, num_partitions)
    return source.mapInArrow(
        make_arrow_extractor(config or ParserConfig()), schema=EXTRACTED_SCHEMA
    )


def run_extraction_concurrent(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    leg_action,
    num_partitions: int | None = None,
) -> dict:
    """Plan the one pass and run ``leg_action("normal", df)`` on it (count,
    write, collect). Returns ``{"normal": result}``; the name and shape are
    the ones the benchmark harness calls (perfbench/run.py)."""
    df = plan_extraction(documents, config, num_partitions=num_partitions)
    return {"normal": leg_action("normal", df)}


def lineage_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-extraction-partition lineage + metrics rows (north rule)."""
    return (
        extracted.groupBy("part_id")
        .agg(
            F.countDistinct("doc_id").alias("doc_count"),
            F.count(F.lit(1)).alias("table_count"),
            F.sum(F.size(F.coalesce("spans", F.array()))).alias("span_count"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias(
                "error_count"
            ),
            F.max("wall_ms").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "part_id",
            "doc_count",
            "table_count",
            "span_count",
            "error_count",
            "wall_ms",
        )
    )


def run_job(
    spark: SparkSession,
    documents: DataFrame,
    sink: SnapshotSink,
    config: ParserConfig | None = None,
    *,
    resume: bool = True,
    num_partitions: int | None = None,
) -> dict:
    """Execute one extraction run: resume-filter → extract → write+commit.

    Returns the commit manifest. Re-running after a crash or
    partial corpus processes only uncommitted documents (Iceberg-snapshot
    discipline, SURVEY.md §4.3).
    """
    if resume:
        documents = sink.remaining_documents(documents)
    run_id = sink.new_run_id()
    # Materialize the extraction exactly once: write the data files, then
    # derive lineage by re-reading them (a cheap columnar aggregate) instead
    # of recomputing the whole extraction DAG. The snapshot commits only
    # after BOTH tables are on disk — crash at any earlier point leaves no
    # visible state ("lineage in the same transaction", SURVEY.md §4.3).
    data_path = sink.data_path(run_id)

    def write_leg(name: str, df: DataFrame):
        df.write.mode("errorifexists").parquet(data_path.rstrip("/") + "/" + name)
        return df.schema

    res = run_extraction_concurrent(
        documents, config, leg_action=write_leg, num_partitions=num_partitions
    )
    committed = (
        spark.read.schema(res["normal"])
        .option("recursiveFileLookup", "true")
        .parquet(data_path)
    )
    lineage = lineage_from_extracted(committed, run_id)
    lineage_path = sink.lineage_path(run_id)
    lineage.write.mode("errorifexists").parquet(lineage_path)
    return sink.commit_run(run_id, data_path, lineage_path)


# perfbench/layers.py:226-260 (frozen between benchmark changes) imports
# the names below; the benchmark change that retires its chunk_*/discover_*/
# mega_leg_s per-layer metrics deletes them. Nothing in the package calls them.
DEFAULT_MEGA_COST = 256 * 1024


def mega_span_count_hint(mega_cost_threshold: int) -> int:
    return max(8, mega_cost_threshold // 4096)


def discover_mega_ids(documents: DataFrame, *, span_count_hint: int) -> list[str]:
    n_spans = F.coalesce(F.size(F.col("spans").getField("offset")), F.lit(0))
    mega = documents.where((n_spans > span_count_hint) & F.col("doc_id").isNotNull())
    return [r[0] for r in mega.select("doc_id").collect()]


def plan_extraction_legs(documents: DataFrame, config: ParserConfig | None = None):
    return plan_extraction(documents, config), None
