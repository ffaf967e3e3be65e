"""End-to-end extraction pipeline: one pass + lineage + resume.

Plan shape (SURVEY.md §3.4, §4.3) — a plan-shape decision, no custom
Catalyst rules:

    scan (doc_id, spans; splits packed by bytes, ≈2 per core)
    → JVM-side HTML reassembly → extraction (mapInArrow)
    → SnapshotSink.write_run: one write into the run's data path (no leg
      subdirectory) → per-partition lineage of the written files → commit

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
    resume_from: SnapshotSink | None = None,
) -> DataFrame:
    """The one extraction pass, lazy: ``documents(doc_id, spans)`` →
    ``EXTRACTED_SCHEMA`` rows. One select reassembles each document's HTML
    on the scan's partitions, where the documents are extracted unless
    they can keep fewer than half of P tasks busy
    (:func:`~html_table_spark.operators.util.scan_parallelism`: a
    one-row-group file fills one split however many it is cut into), when
    the (doc_id, html) rows take a salted repartition into P first. P is
    the context's ``defaultParallelism`` as the plan is built: a local
    master's cores, or the executor cores a cluster has registered by then
    (``--conf spark.default.parallelism=N`` sets it).

    ``resume_from`` keeps the documents that sink has not committed
    (``remaining_documents``). The salt is decided on the corpus before
    that join: its committed files are not corpus files, and sizing a
    plan that holds it would run its query stages.

    Plan construction is deliberately terse: every intermediate Dataset
    costs a full Catalyst analyzer pass over the whole subtree, serial
    driver time before any task runs."""
    target = documents.sparkSession.sparkContext.defaultParallelism
    # a streaming input passes through (.rdd is illegal on its plan): the
    # trigger sizes its micro-batches (maxFilesPerTrigger)
    salt = not documents.isStreaming and scan_parallelism(documents) < max(2, target // 2)
    if resume_from is not None:
        documents = resume_from.remaining_documents(documents)
    source = documents.select("doc_id", html_reassembly_col("spans").alias("html"))
    if salt:
        source = salted(source, target)
    return source.mapInArrow(
        make_arrow_extractor(config or ParserConfig()), schema=EXTRACTED_SCHEMA
    )


def run_extraction_concurrent(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    leg_action,
    resume_from: SnapshotSink | None = None,
) -> dict:
    """Plan the one pass and run ``leg_action("normal", df)`` on it (count,
    write, collect). Returns ``{"normal": result}``; the name and shape are
    the ones the benchmark harness calls (perfbench/run.py)."""
    df = plan_extraction(documents, config, resume_from=resume_from)
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
) -> dict:
    """One extraction run: resume filter → extract → ``sink.write_run``
    with :func:`lineage_from_extracted`; returns the commit manifest.
    Re-running after a crash or partial corpus processes only uncommitted
    documents (Iceberg-snapshot discipline, SURVEY.md §4.3)."""
    return run_extraction_concurrent(
        documents,
        config,
        resume_from=sink if resume else None,
        leg_action=lambda _name, df: sink.write_run(df, lineage_from_extracted),
    )["normal"]


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
