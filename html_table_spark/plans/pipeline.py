"""End-to-end extraction pipeline: skew-aware plan + lineage + resume.

Plan shape (SURVEY.md §3.4, §4.3) — all plan-shape decisions, no custom
Catalyst rules:

    discovery (offsets-only scan → mega doc_ids, driver-planned)   │
    scan #1 (doc_id NOT IN mega_ids) → pass 1 (mapInArrow) ────────┐
    scan #2 (doc_id IN mega_ids, row-group-PRUNED by the pushed    │
        filter) → split_mega_docs (mapInArrow, table ranges)       │
        → (doc_id, html, table_idx_base) chunks of ≤64 tables      │
        → full-entropy repartition → pass 2 (mapInArrow) ──────────┴→ 2 jobs
    → one write per leg → per-partition lineage agg → snapshot commit

The two legs run as concurrent jobs from two driver threads
(:func:`run_extraction_concurrent`); there is no single-DataFrame union of
them, because in a union plan the DAGScheduler cannot launch pass 1's
result stage until the mega leg's chunk map stage finishes.

Why explicit: UDF-stage skew is invisible to AQE (it only splits skewed
joins/aggregations), so a 2,000-table mega-document would otherwise pin one
task for the whole stage.  Mega docs are found by a span-COUNT discovery
job that reads only the int32 offset leaf (nested schema pruning), then
split at the tokenizer's own top-level table ranges; routing is a
performance split, never a correctness boundary — misrouted docs parse in
place (pass 1) or as one whole-doc chunk (pass 2).  (At fleet scale the
routing predicate would be a STORED top-level byte-length column, giving
scan #2 parquet min/max pruning + predicate pushdown with no discovery job
at all; discovery is the honest stand-in because the corpus schema is
fixed by BASELINE.json.)

Why TWO scans (a deliberate trade): scan #2 re-reads the mega tail instead
of persisting pass-1 output — persisting a corpus-sized intermediate at
10^12 docs costs more storage/IO than a second columnar scan, and with the
pushed ``doc_id IN`` filter the re-read touches only the row groups that
actually hold mega docs.  The only shuffle in the job moves the skewed
tail (mega-doc chunks ≪ corpus), repartitioned on ``xxhash64(doc_id,
chunk)``.  Normal docs ride the scan's byte-balanced file splits
(``maxPartitionBytes``); a full salted repartition engages only when the
scan exposes too little parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ParserConfig
from ..operators.extract import _extract_html, html_reassembly_col, split_mega_docs
from ..sources.sinks import SnapshotSink

# Docs whose total text size exceeds this take the mega-doc split path.
DEFAULT_MEGA_COST = 256 * 1024  # bytes of HTML

# Discovery routing collects at most this many mega doc_ids to the driver
# (ids only — never bytes). 64Ki ids ≈ a few MB of strings; past it the
# mega leg keeps its lazy span-count filter (a full scan that keeps just
# the tail) instead of the pruning IN list. At fleet scale the mega tail is
# vanishingly rare by construction (it is the skew tail), and a STORED
# byte-length column would replace discovery outright (see module
# docstring).
DEFAULT_DISCOVER_CAP = 65536


def mega_span_count_hint(mega_cost_threshold: int) -> int:
    """Span-count proxy threshold matching a byte threshold.

    Routing needs only a CHEAP predicate that puts almost-all mega docs on
    the chunk path — it is a performance hint, not a correctness boundary:
    a byte-heavy doc the proxy misses is parsed in place by pass 1, and a
    span-heavy doc with tiny HTML becomes one whole-doc chunk parsed by
    pass 2 (``split_html`` never drops a document).
    4 KiB/span is the conservative end of the corpus shape (one table
    fixture per span); the floor keeps tiny thresholds sane."""
    return max(8, mega_cost_threshold // 4096)


def discover_mega_ids(
    documents: DataFrame,
    *,
    span_count_hint: int,
    cap: int = DEFAULT_DISCOVER_CAP,
) -> list[str] | None:
    """Find mega-doc candidates by span COUNT — an offsets-only columnar scan.

    ``size(spans.offset)`` needs just the int32 offset leaf (nested schema
    pruning drops kind/text/media_ref), so this job reads a few bytes per
    document where the round-2 routing scan re-decoded and re-concatenated
    every text byte in the corpus merely to find the tail. Returns the ids
    (possibly empty), or None when more than ``cap`` candidates exist —
    callers then filter on the lazy predicate instead, keeping the driver
    out of the data path. doc_id-less rows are never candidates (they ride
    the normal leg). The predicate here is kept EXACTLY the null-safe form
    _prep_legs builds for the legs, so the returned ids are a faithful
    materialization of the mega leg's routing filter."""
    n_spans = F.coalesce(F.size(F.col("spans").getField("offset")), F.lit(0))
    rows = (
        documents.where(n_spans > span_count_hint)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id")
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [r[0] for r in rows]


def salted(documents: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic salted repartition (north rule: explicit skew control).

    Repartitions on the FULL-ENTROPY hash, not a pre-modded salt: feeding P
    distinct salt values through the partitioner's own hash is balls-in-
    bins — ~1/e of the P partitions would come out empty and others would
    stack 2-3 salts. The hash rides the repartition expression directly —
    no withColumn/drop pair (each intermediate Dataset is a full analyzer
    pass, serial driver time)."""
    return documents.repartition(num_partitions, F.xxhash64("doc_id"))


def plan_extraction_legs(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    num_partitions: int | None = None,
    mega_cost_threshold: int = DEFAULT_MEGA_COST,
    tables_per_chunk: int = 64,
) -> tuple[DataFrame, DataFrame | None]:
    """Build the two extraction legs as INDEPENDENT lazy DataFrames.

    Returns ``(normal_out, mega_out)``; ``mega_out`` is None when the config
    does not split documents (``ParserConfig.splits_documents``) or when
    discovery finds no mega docs. The legs share no shuffle dependency, so
    a caller that runs one action per leg from two driver threads (see
    :func:`run_concurrent`) gets them scheduled as concurrent jobs: the mega
    leg's scan#2 + chunk stage fills task slots the pass-1 stage leaves
    idle in its straggler tail instead of barriering in front of it.

    The normal-doc stream is extracted directly on scan partitions — zero
    all-data shuffle, since ``maxPartitionBytes`` balances splits by bytes
    and per-doc cost is bounded by the mega threshold — unless the scan
    exposes too few partitions to keep the cluster busy, when it takes a
    salted repartition. The mega-doc chunk stream is ALWAYS salted — that
    shuffle moves only the skewed tail, which is the north rule's skew case
    without the 100 TB full-corpus shuffle.
    """
    prep = _prep_legs(
        documents,
        config,
        num_partitions=num_partitions,
        mega_cost_threshold=mega_cost_threshold,
        tables_per_chunk=tables_per_chunk,
    )
    return _plan_normal_leg(prep), _plan_mega_leg(prep)


def _prep_legs(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    num_partitions: int | None = None,
    mega_cost_threshold: int = DEFAULT_MEGA_COST,
    tables_per_chunk: int = 64,
) -> dict:
    """Shared, JOB-FREE leg preparation: source shuffling decision + the two
    complementary routing predicates. Everything here is lazy driver work so
    both legs can plan themselves independently (run_extraction_concurrent
    threads them; plan_extraction_legs calls them in sequence).

    Leg routing is a PERFORMANCE split, not a correctness boundary:
    whatever predicate lands a doc in whichever leg, pass 1 parses it in
    place and the mega leg splits it into chunks parsed by pass 2 — output
    rows are identical either way
    (tests/test_pipeline.py pins this against the Spark-free kernel).

    BOTH legs route on the lazy span-count proxy (``size(spans.offset)`` —
    the int32 offset leaf only, no text bytes, no Spark job, exact
    complements by construction). When the mega leg is planned it
    additionally runs discover_mega_ids — the offsets-only job — and,
    because the discovered id set IS the exact materialization of its own
    routing predicate, adds a `doc_id IN (...)` filter, which pushes into
    the Parquet reader and prunes at row-group granularity: the "second
    full scan" becomes a read of just the row groups holding mega docs. The
    normal leg never waits for that job — its complement predicate is a
    per-row array-length check, free of the id list's per-task
    plan-serialization weight. Ids over DEFAULT_DISCOVER_CAP: the mega leg
    keeps the lazy predicate (a full scan of the tail, still exactly
    complementary).

    Plan construction is deliberately terse: every intermediate Dataset
    costs a full Catalyst analyzer pass over the whole subtree, serial
    driver time before any task runs.
    """
    config = config or ParserConfig()
    spark = documents.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # cheap structural check, no job triggered
    scan_parts = documents.rdd.getNumPartitions()
    shuffle_source = scan_parts < max(2, num_partitions // 2)

    if not config.splits_documents:
        # a verdict on the whole document (single-table selection,
        # fail_on_xml_errors) cannot be chunked: every document parses whole
        source = documents.select("doc_id", "spans")
        if shuffle_source:
            source = salted(source, num_partitions)
        return {"config": config, "single_source": source}

    shuffled = salted(documents, num_partitions) if shuffle_source else documents

    # size() of a NULL array is NULL (or -1 under legacy sizeOfNull) —
    # coalesce to 0 so a null-spans doc rides the normal leg instead of
    # failing BOTH predicates; null doc_id likewise must not vanish (the
    # mega leg's IN/shuffle keys on doc_id, so it takes only non-null ids —
    # discover_mega_ids applies the same carve-out)
    n_spans = F.coalesce(F.size(F.col("spans").getField("offset")), F.lit(0))
    hint = mega_span_count_hint(mega_cost_threshold)
    return {
        "config": config,
        "documents": documents,
        "shuffled": shuffled,
        "num_partitions": num_partitions,
        "span_count_hint": hint,
        "tables_per_chunk": tables_per_chunk,
        "normal_filter": F.col("doc_id").isNull() | (n_spans <= hint),
        "mega_filter": F.col("doc_id").isNotNull() & (n_spans > hint),
    }


def _reassembled(source: DataFrame) -> DataFrame:
    return source.select(
        F.col("doc_id"), html_reassembly_col("spans").alias("html")
    )


def _plan_normal_leg(prep: dict) -> DataFrame:
    """Pass 1 — the bulk. Fully lazy: no discovery job, no id list.

    Routed-out docs are filtered JVM-SIDE, so mega-doc bytes never cross
    the Arrow boundary just to be skipped. No cache, no materialization:
    pass 1 output flows straight to the consumer/sink. A doc the routing
    proxy under-calls (byte-heavy, few spans) is parsed in place — one slow
    task, never a dropped doc."""
    if "single_source" in prep:
        return _extract_html(_reassembled(prep["single_source"]), prep["config"])
    return _extract_html(
        _reassembled(prep["shuffled"].where(prep["normal_filter"])),
        prep["config"],
    )


def _plan_mega_leg(prep: dict) -> DataFrame | None:
    """Pass 2 — the skewed tail only. Returns None when the leg is absent
    (``config.splits_documents`` is false, or discovery finds no mega docs).

    The offsets-only id job runs HERE — not on the shared planning path —
    so a threaded caller overlaps it with pass 1's launch. The discovered
    id list drives PRUNING only: the leg filters on ``doc_id IN (ids) AND
    mega_filter``, so the scan row-group-prunes on the pushed IN while the
    span-count conjunct keeps the row set the exact complement of the
    normal leg even when doc_ids are NOT unique (a small doc sharing a mega
    doc's id would otherwise ride both legs and its tables would be emitted
    twice).

    The leg: a second PRUNED scan (row-group-pruned by the pushed doc_id IN
    filter; over the cap it reads the corpus but keeps just the tail),
    cut into chunks by ``split_mega_docs``, salted so one doc's
    chunks spread across the cluster, then extracted with global table
    ordinals. The shuffle here moves mega-doc bytes only — there is NO
    full-corpus shuffle anywhere in the plan."""
    if "single_source" in prep:
        return None
    shuffled = prep["shuffled"]
    num_partitions = prep["num_partitions"]
    mega_ids = discover_mega_ids(
        prep["documents"],
        span_count_hint=prep["span_count_hint"],
        cap=DEFAULT_DISCOVER_CAP,
    )
    if mega_ids is None:
        # over the cap: the lazy predicate scans the corpus but keeps just
        # the tail — still the exact complement of the normal leg's filter
        mega_source = shuffled.where(prep["mega_filter"])
    elif not mega_ids:
        # no skew tail at all: the normal leg's complement predicate
        # already admits every doc, so the mega leg simply vanishes
        return None
    else:
        # The pruned scan inherits the corpus's partitioning (hundreds of
        # tasks, nearly all empty after the IN filter) and the chunk kernel
        # is a PYTHON stage — every empty partition still pays the worker
        # task prologue. Compact to one partition per discovered doc first:
        # this shuffle moves only the mega docs themselves, and the chunk
        # split is per-doc serial anyway, so extra partitions buy nothing.
        mega_source = shuffled.where(
            F.col("doc_id").isin(mega_ids) & prep["mega_filter"]
        ).repartition(min(num_partitions, len(mega_ids)), F.xxhash64("doc_id"))
    # every routed doc yields at least one chunk (split_html never drops
    # one) and the routing predicate above is the complement of pass 1's,
    # so the split stage has exactly one consumer: no persist, no
    # parsed-in-place union leg
    chunks = split_mega_docs(_reassembled(mega_source), prep["tables_per_chunk"])
    return _extract_html(salted_chunks(chunks, num_partitions), prep["config"])


def run_extraction_concurrent(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    leg_action,
    **plan_kwargs,
) -> dict:
    """Plan AND execute both extraction legs in concurrent driver threads.

    Planning the legs first (``plan_extraction_legs``) and then running
    them (``run_concurrent``) would finish the discovery job plus BOTH
    legs' Catalyst analysis before the first task launches: serial driver
    wall that idles the cores. Here each leg plans itself inside its own
    thread: the normal leg's routing predicate is lazy, so pass 1's scan
    tasks are launching while the mega thread is still running id
    discovery and analyzing the chunk plan.

    ``leg_action(name, df)`` (name in {'normal','mega'}) runs the leg's
    action in that thread — count, write, collect. Returns
    ``{'normal': result, 'mega': result}`` with ``'mega': None`` when the
    leg is absent (``config.splits_documents`` false, or an unskewed corpus).
    Errors in either thread re-raise after both finish (run_concurrent)."""
    prep = _prep_legs(documents, config, **plan_kwargs)
    spark = documents.sparkSession

    def normal_thunk():
        return leg_action("normal", _plan_normal_leg(prep))

    def mega_thunk():
        mega = _plan_mega_leg(prep)
        return None if mega is None else leg_action("mega", mega)

    mega_res, normal_res = run_concurrent(
        [mega_thunk, normal_thunk], spark=spark
    )
    return {"normal": normal_res, "mega": mega_res}


def run_concurrent(actions, spark: SparkSession | None = None):
    """Run driver-side actions (zero-arg callables) as concurrent Spark jobs.

    One thread per action — Spark's scheduler then packs the jobs' stages
    onto free task slots together instead of serializing them behind each
    other's barriers (standard multi-job submission; PySpark pins py4j
    threads, so thread-local job groups/properties stay isolated). When a
    session is passed AND it runs the FAIR scheduler, each action gets its
    own on-the-fly scheduler pool: under FIFO, AQE materializes each query
    stage as a separate job with a LATER job id, so a small leg's follow-up
    stages queue behind a big leg's running stage (measured: the 4-task
    mega chunk stage waited 4 s behind pass 1's 256 tasks); FAIR pools let
    both legs' stages share slots the whole time. Results come back in
    input order; the first exception is re-raised after all threads finish,
    so a failed leg cannot leak a half-run."""
    import threading

    results: list = [None] * len(actions)
    errors: list = [None] * len(actions)
    fair = (
        spark is not None
        and spark.conf.get("spark.scheduler.mode", "FIFO").upper() == "FAIR"
    )

    def runner(i, fn):
        try:
            if fair:
                spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", f"leg-{i}"
                )
            results[i] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors[i] = exc

    threads = [
        threading.Thread(target=runner, args=(i, fn), daemon=True)
        for i, fn in enumerate(actions)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


def salted_chunks(chunks: DataFrame, num_partitions: int) -> DataFrame:
    """Chunks of one mega-doc must NOT hash to one partition — repartition
    on the full-entropy hash of (doc_id, chunk ordinal); see salted()."""
    return chunks.repartition(
        num_partitions, F.xxhash64("doc_id", "table_idx_base")
    )


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
    **plan_kwargs,
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
    # The legs PLAN THEMSELVES and write as CONCURRENT jobs into sibling
    # subdirectories (two independent commit protocols — no shared
    # _temporary dir): pass 1's write is launching while the mega thread is
    # still running discovery (see run_extraction_concurrent). Visibility
    # is unchanged — nothing is committed until both writes finish.
    data_path = sink.data_path(run_id)

    def write_leg(name: str, df: DataFrame):
        df.write.mode("errorifexists").parquet(data_path.rstrip("/") + "/" + name)
        return df.schema

    res = run_extraction_concurrent(
        documents, config, leg_action=write_leg, **plan_kwargs
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
