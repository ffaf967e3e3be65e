"""The distributed extraction operator: Arrow in, Arrow out (``mapInArrow``).

Design (SURVEY.md §1.4, §3.4): Catalyst plans the Parquet/Iceberg scan with
column pruning down to (doc_id, spans), and the HTML is reassembled
JVM-side (:func:`html_reassembly_col`); Arrow moves columnar batches into
the Python worker; this operator runs the pure-Python kernel per document
inside the batch and yields bounded output batches (1 input doc → N output
tables, a UDTF-shaped fan-out).  There is **no per-row Python UDF** anywhere
— the JVM↔Python boundary is crossed per Arrow batch, not per row
(BASELINE.json:6 hot-path constraint).

One stage, one ``mapInArrow`` (:func:`make_arrow_extractor`), one output
row shape: ``(doc_id, html)`` in, ``EXTRACTED_SCHEMA`` rows out, every
document parsed whole.

The extraction config is a small frozen dataclass captured in the closure —
pickled once per task, never re-validated per document.

Memory envelope: multi-MB HTML docs can blow up the default 10k-row Arrow
batches; the session caps input batches by rows and bytes (session.py) and
the extractor additionally flushes its *output* every ``_FLUSH_ROWS``
tables or ``_FLUSH_BYTES`` of span text, so one mega-doc cannot pin a
giant batch (iterator-in/iterator-out, never the whole partition).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import ParserConfig
from ..semantics import parse_document
from ..spans import encode_table_flat
from ..sources.documents import EXTRACTED_SCHEMA

# output batch bounds: rows, and approx bytes of span text (Arrow string
# offsets are int32: one array must stay far below 2 GB)
_FLUSH_ROWS = 4096
_FLUSH_BYTES = 256 * 1024 * 1024

_ARROW_OUT = to_arrow_schema(EXTRACTED_SCHEMA)
_ARROW_SPAN_FIELDS = list(_ARROW_OUT.field("spans").type.value_type)


def html_reassembly_col(spans_col: str = "spans"):
    """JVM-side twin of ``spans.doc_spans_to_html``: text spans with
    non-null text, ordered by (offset, original span position) — null
    offsets sort as 0 and ties keep span order, exactly the Python
    reference's stable sort — concatenated into one HTML string.

    Doing the reassembly in the JVM (round-3 Arrow-copy reduction) means
    the Python boundary carries ONE string column per document instead of
    the full span struct array: the kind/media_ref/offset child arrays and
    every media span stop crossing the JVM↔Python socket entirely, and the
    worker no longer materializes four ``to_pylist`` copies per batch just
    to re-join them. Null/empty span rows coalesce to ''.

    Expression shape (round-3 serial-planning diet): ONE lambda and a
    comparator-FREE ``array_sort``. Structs sort field-lexicographically,
    so ``struct(o, i, t)`` under the default ordering IS the stable
    (offset, position) sort — ``i`` is unique per array, so the ``t``
    field is never compared. Non-text / null-text spans keep a NULL ``t``
    instead of being pre-filtered: ``array_join`` skips null elements, so
    the filter rides the join for free, and the sorted ``t`` column comes
    out via lambda-free ``getField``. Every lambda costs repeated
    LambdaFunction resolution on EACH analyzer pass over the plan (the
    extraction pipeline analyzes this subtree ~10 times during
    construction) and an interpreted per-element call at runtime; the
    round-2 comparator variant additionally paid an interpreted lambda per
    COMPARISON (O(n log n) per row)."""
    indexed = F.transform(
        spans_col,
        lambda s, i: F.struct(
            F.coalesce(s["offset"], F.lit(0)).alias("o"),
            i.alias("i"),
            F.when(
                (s["kind"] == F.lit("text")) & s["text"].isNotNull(), s["text"]
            ).alias("t"),
        ),
    )
    joined = F.array_join(F.array_sort(indexed).getField("t"), "")
    return F.coalesce(joined, F.lit(""))


def make_arrow_extractor(config: ParserConfig):
    """mapInArrow extraction over ``(doc_id, html)`` batches: Arrow in,
    Arrow out, flat buffers throughout. Every document is parsed whole."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        started = time.monotonic()
        # the DOM tree is acyclic (no parent pointers) — refcounting frees
        # it; CPython's cyclic GC otherwise triggers constantly on the
        # millions of container allocations per batch. No gc.collect() at
        # the end: there is no cycle for it to find, it was most of the
        # operator's own per-task cost (fastdaemon.py), and the automatic
        # collector resumes once GC is re-enabled.
        gc_was_enabled = gc.isenabled()
        if gc_was_enabled:
            gc.disable()
        try:
            yield from _run(part_id, started, batches)
        finally:
            # reused Python workers (spark.python.worker.reuse) would keep
            # GC off for every later task if the generator is closed early
            # (downstream limit(), task kill, or any raise)
            if gc_was_enabled:
                gc.enable()

    def _run(part_id: int, started: float, batches):
        def new_buffers():
            return {
                "doc_id": [], "table_idx": [], "caption": [], "header": [],
                "row_lens": [], "n_rows": [], "n_cells": [], "status": [],
                "error_msg": [],
                "span_offsets": [0],
                "sk": [], "st": [], "sr": [], "so": [],
            }

        buf = new_buffers()
        buf_bytes = 0  # approx bytes of span text buffered

        def flush() -> pa.RecordBatch:
            nonlocal buf, buf_bytes
            buf_bytes = 0
            n = len(buf["doc_id"])
            wall = (time.monotonic() - started) * 1000.0
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(buf["sk"], pa.string()),
                    pa.array(buf["st"], pa.string()),
                    pa.array(buf["sr"], pa.string()),
                    pa.array(buf["so"], pa.int32()),
                ],
                fields=_ARROW_SPAN_FIELDS,
            )
            spans_arr = pa.ListArray.from_arrays(
                pa.array(buf["span_offsets"], pa.int32()), struct
            )
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(buf["doc_id"], pa.string()),
                    pa.array(buf["table_idx"], pa.int32()),
                    pa.array(buf["caption"], pa.string()),
                    pa.array(buf["header"], pa.list_(pa.string())),
                    spans_arr,
                    pa.array(buf["row_lens"], pa.list_(pa.int32())),
                    pa.array(buf["n_rows"], pa.int32()),
                    pa.array(buf["n_cells"], pa.int32()),
                    pa.array(buf["status"], pa.string()),
                    pa.array(buf["error_msg"], pa.string()),
                    pa.array([part_id] * n, pa.int32()),
                    pa.array([wall] * n, pa.float64()),
                ],
                schema=_ARROW_OUT,
            )
            buf = new_buffers()
            return batch

        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            # HTML is reassembled JVM-side (html_reassembly_col): one string
            # column crosses Arrow, already filtered/ordered/joined
            htmls = batch.column("html").to_pylist()
            for doc_id, html in zip(doc_ids, htmls):
                results = parse_document(html, config)
                if not results and config.select_all_tables:
                    # completion marker: a doc with zero tables must still be
                    # recorded, or snapshot-resume would reprocess it forever
                    # (filter table_idx >= 0 for real tables)
                    buf["doc_id"].append(doc_id)
                    buf["table_idx"].append(-1)
                    buf["caption"].append(None)
                    buf["header"].append([])
                    buf["row_lens"].append([])
                    buf["n_rows"].append(0)
                    buf["n_cells"].append(0)
                    buf["status"].append("ok")
                    buf["error_msg"].append(None)
                    buf["span_offsets"].append(len(buf["sk"]))
                for table in results:
                    buf["doc_id"].append(doc_id)
                    buf["table_idx"].append(table.table_idx)
                    buf["caption"].append(table.caption)
                    buf["header"].append(table.header)
                    buf["row_lens"].append([len(r) for r in table.rows])
                    buf["n_rows"].append(table.n_rows)
                    buf["n_cells"].append(table.n_cells)
                    buf["status"].append(table.status)
                    buf["error_msg"].append(table.error_msg)
                    encode_table_flat(table, buf["sk"], buf["st"], buf["sr"], buf["so"])
                    buf["span_offsets"].append(len(buf["sk"]))
                buf_bytes += len(html)  # upper bound on this doc's span text
                if len(buf["doc_id"]) >= _FLUSH_ROWS or buf_bytes >= _FLUSH_BYTES:
                    yield flush()
        if buf["doc_id"]:
            yield flush()

    return extract_batches


def extract_tables(
    documents: DataFrame,
    config: ParserConfig | None = None,
    *,
    mega_cost_threshold: int | None = None,
    mega_policy: str = "parse",
) -> DataFrame:
    """documents(doc_id, spans) → extracted tables.

    One output row per (document, extracted table); reference single-table
    semantics by default, ``config.all_tables()`` for corpus mode.  Errors
    surface as ``status='error'`` rows, never exceptions (SURVEY.md §2.1).

    Implemented over ``mapInArrow``: the span columns stay as flat Arrow
    buffers on both sides of the Python boundary — no pandas, no per-span
    dict/object materialization (BASELINE.json hot-path constraint taken to
    its conclusion).

    ``mega_cost_threshold`` and ``mega_policy`` are accepted and ignored
    (the benchmark harness still passes them): every document is parsed
    whole, whatever its size.
    """
    from .util import ensure_parallelism

    config = config or ParserConfig()
    # explicit pruning before the UDF stage, with the HTML reassembly done
    # JVM-side: the Arrow boundary carries (doc_id, html) only — no span
    # structs, no media spans (round-3 Arrow-copy reduction)
    pruned = documents.select(
        F.col("doc_id"), html_reassembly_col("spans").alias("html")
    )
    # a dimension-sized corpus arriving as one file = one partition would
    # serialize the whole Arrow stage on a single Python worker. The full
    # pipeline (plans/pipeline.py) manages partitioning itself.
    return _extract_html(ensure_parallelism(pruned), config)


def _extract_html(html_docs: DataFrame, config: ParserConfig) -> DataFrame:
    """The one extraction ``mapInArrow`` stage: ``html_docs(doc_id, html)``
    → extracted tables. The pipeline calls it on its already-reassembled
    input (one reassembly subtree, no schema probe: every intermediate
    Dataset costs a Catalyst analyzer pass)."""
    return html_docs.mapInArrow(make_arrow_extractor(config), schema=EXTRACTED_SCHEMA)
