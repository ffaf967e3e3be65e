"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.7) and the north rule's
"resumable from checkpoint" is satisfied by the snapshot sink — but a live
corpus (crawler output landing as files) is the natural streaming shape, so
the same extraction operator is exposed as a streaming query:

    readStream(parquet dir) → mapInArrow(extraction) → writeStream(parquet)

- exactly-once file sink via Spark's own checkpoint/WAL;
- ``Trigger.AvailableNow`` drains the backlog then stops (used in tests and
  for incremental batch runs);
- the extraction operator is stateless, so it streams unchanged — no
  watermark needed. A watermarked windowed aggregation over extraction
  metrics (tables/min, late events tolerated 10 min) demonstrates the
  stateful side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ParserConfig
from ..operators.extract import extract_tables
from ..sources.documents import DOCUMENTS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config: ParserConfig | None = None,
    available_now: bool = True,
):
    """Start (and with available_now=True, run to completion) the streaming
    extraction over a landing directory of parquet document files."""
    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    extracted = extract_tables(docs, config or ParserConfig().all_tables())
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.trigger(processingTime="10 seconds").start()


def dedup_stream(
    documents: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "30 minutes",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact-dedup: keep the first occurrence of each ``id_col``
    seen within the watermark horizon (re-crawled/duplicated docs in a live
    feed are dropped before the expensive extraction stage).

    Built on ``dropDuplicatesWithinWatermark`` — RocksDB-backed keyed state
    with watermark-driven eviction, so state stays bounded no matter how
    long the stream runs (plain ``dropDuplicates`` would grow forever)."""
    return documents.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


# output/state schemas for the custom stateful operator below
EVENT_TOTALS_SCHEMA = (
    "event_type string, n_events bigint, value_sum double"
)
_EVENT_TOTALS_STATE_SCHEMA = "n bigint, s double"


def _event_totals_fn(key, pdf_iter, state):
    """Running totals per key, state carried across micro-batches (Arrow
    batch iterator in, one updated row out — no per-row Python)."""
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    import pandas as pd

    yield pd.DataFrame(
        {"event_type": [key[0]], "n_events": [n], "value_sum": [round(s, 4)]}
    )


def stateful_event_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    cumulative per-event-type counts and value sums that survive across
    micro-batches — the pattern a sessionizer or incremental quality
    monitor slots into. Batch-equivalent semantics: groupBy + count/sum
    over everything seen so far."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        _event_totals_fn,
        outputStructType=EVENT_TOTALS_SCHEMA,
        stateStructType=_EVENT_TOTALS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_rates(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming or batch input):
    events(ts, event_type, value) → per-window counts + value sums. Late
    rows beyond the watermark are dropped; state is bounded."""
    # watermarks require zoned TIMESTAMP; parquet often carries TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def stream_dedup_against_history(
    spark: SparkSession,
    input_dir: str,
    historical: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    schema=None,
    n_bits: int = 1 << 14,
    k: int = 5,
    available_now: bool = True,
):
    """Streaming incremental dedup: documents landing in ``input_dir``
    are Bloom-probed against the HISTORICAL corpus and only novel rows
    reach ``output_dir`` — the live-crawl shape of
    :func:`~html_table_spark.operators.dedup.bloom_dedup`.

    The Bloom bitmap is built ONCE (driver-side, before the stream
    starts) and every micro-batch reuses it via ``foreachBatch``: the
    per-batch work is a map-side bitmap probe plus an exact left-semi
    join of only the Bloom-positive sliver, so micro-batch latency is
    independent of the historical corpus size. Delivery is effectively
    exactly-once: foreachBatch alone is at-least-once (a crash between
    the sink write and the WAL commit replays the batch), so each batch
    OVERWRITES its own ``batch_id``-keyed partition — the replay
    rewrites the same directory instead of appending a duplicate, the
    idempotence the Structured Streaming guide requires of foreachBatch
    sinks. A restart over a drained stream skips committed batches
    entirely, which the test verifies by re-running it.

    Note the state story vs ``dedup_stream`` (within-stream dedup,
    watermark-bounded state): here the "state" is the immutable
    historical bitmap, so there is NO growing streaming state at all —
    the cross-batch knowledge lives in the prebuilt filter.
    """
    from ..operators.dedup import bloom_probe, bloom_build

    words = bloom_build(historical, n_bits=n_bits, k=k)
    # The exact tier of every micro-batch left-semi joins against the
    # historical corpus; persist it once so batches hit executor-local
    # blocks instead of re-scanning the source each trigger (unpersisted
    # after an availableNow drain; a continuous stream keeps it pinned
    # for its lifetime by design).
    hist_cached = historical.persist()

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        flags = bloom_probe(
            batch_df, words, hist_cached, n_bits=n_bits, k=k
        )
        novel = (
            batch_df.join(
                flags.filter(~F.col("is_dup")).select("doc_id"),
                "doc_id",
                "left_semi",
            )
        )
        # idempotent replay: a re-delivered batch overwrites its own
        # partition instead of appending duplicates
        novel.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    docs = (
        spark.readStream.schema(schema or DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    writer = (
        docs.writeStream.foreachBatch(_dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        try:
            query.awaitTermination()
        finally:
            hist_cached.unpersist()
        return query
    return writer.trigger(processingTime="10 seconds").start()
