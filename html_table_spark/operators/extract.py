"""The distributed extraction operator: Arrow in, Arrow out (``mapInArrow``).

Design (SURVEY.md §1.4, §3.4): Catalyst plans the Parquet/Iceberg scan with
column pruning down to (doc_id, spans), and the HTML is reassembled
JVM-side (:func:`html_reassembly_col`); Arrow moves columnar batches into
the Python worker; this operator runs the pure-Python kernel per document
inside the batch and yields bounded output batches (1 input doc → N output
tables, a UDTF-shaped fan-out).  There is **no per-row Python UDF** anywhere
— the JVM↔Python boundary is crossed per Arrow batch, not per row
(BASELINE.json:6 hot-path constraint).

Two stages, each one ``mapInArrow`` with one output row shape:

- :func:`split_mega_docs` cuts mega documents at top-level table
  boundaries into ``(doc_id, html, table_idx_base)`` chunks (Spark-free
  core: :func:`split_html`, which takes the boundaries from the tokenizer's
  own token stream);
- :func:`make_arrow_extractor` parses ``(doc_id, html[, table_idx_base])``
  into ``EXTRACTED_SCHEMA`` rows, adding the base to each table ordinal.

The extraction config is a small frozen dataclass captured in the closure —
pickled once per task, never re-validated per document.

Memory envelope: multi-MB HTML docs can blow up the default 10k-row Arrow
batches; the session caps input batches by rows and bytes (session.py) and
the extractor additionally flushes its *output* every ``_FLUSH_ROWS``
tables or ``_FLUSH_BYTES`` of span text, so one mega-doc cannot pin a
giant batch (iterator-in/iterator-out, never the whole partition). Chunks
are substrings of their document, so the input byte cap bounds the
splitter's output batches too.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import ParserConfig
from ..htmldom import top_level_table_ranges
from ..semantics import parse_document
from ..spans import encode_table_flat
from ..sources.documents import EXTRACTED_SCHEMA

# output batch bounds: rows, and approx bytes of span text (Arrow string
# offsets are int32: one array must stay far below 2 GB)
_FLUSH_ROWS = 4096
_FLUSH_BYTES = 256 * 1024 * 1024

_MEGA_POLICIES = ("parse", "chunk")

_ARROW_OUT = to_arrow_schema(EXTRACTED_SCHEMA)
_ARROW_SPAN_FIELDS = list(_ARROW_OUT.field("spans").type.value_type)

SPLIT_SCHEMA = "doc_id string, html string, table_idx_base int"


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
    """mapInArrow extraction over ``(doc_id, html[, table_idx_base])``
    batches: Arrow in, Arrow out, flat buffers throughout. Every document
    is parsed in place; a ``table_idx_base`` column (chunks from
    :func:`split_mega_docs`) shifts each table ordinal to its place in the
    whole document."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        started = time.monotonic()
        # the DOM tree is acyclic (no parent pointers) — refcounting frees
        # it; CPython's cyclic GC otherwise triggers constantly on the
        # millions of container allocations per batch
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
                gc.collect()

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
            bases = (
                batch.column("table_idx_base").to_pylist()
                if "table_idx_base" in batch.schema.names
                else None
            )
            # HTML is reassembled JVM-side (html_reassembly_col): one string
            # column crosses Arrow, already filtered/ordered/joined
            htmls = batch.column("html").to_pylist()
            for i, html in enumerate(htmls):
                doc_id = doc_ids[i]
                base = bases[i] if bases is not None else 0
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
                    buf["table_idx"].append(table.table_idx + base)
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
    tables_per_chunk: int = 64,
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

    ``mega_policy='chunk'`` returns the mega-doc splitter's rows instead
    (:func:`split_mega_docs`, ``SPLIT_SCHEMA``, up to ``tables_per_chunk``
    tables each) when the config splits documents
    (``ParserConfig.splits_documents``); ``'parse'`` extracts. Other configs
    always extract: their verdict applies to the whole document.
    ``mega_cost_threshold`` is accepted and ignored: both policies treat
    every document alike, whatever its size.
    """
    from .util import ensure_parallelism

    if mega_policy not in _MEGA_POLICIES:
        raise ValueError(
            f"mega_policy must be one of {_MEGA_POLICIES}, got {mega_policy!r}"
        )
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
    html_docs = ensure_parallelism(pruned)
    if mega_policy == "chunk" and config.splits_documents:
        return split_mega_docs(html_docs, tables_per_chunk)
    return _extract_html(html_docs, config)


def _extract_html(html_docs: DataFrame, config: ParserConfig) -> DataFrame:
    """The one extraction ``mapInArrow`` stage: ``html_docs(doc_id, html[,
    table_idx_base])`` → extracted tables. The pipeline's legs call it on
    their already-reassembled inputs (one reassembly subtree, no schema
    probe: every intermediate Dataset costs a Catalyst analyzer pass)."""
    return html_docs.mapInArrow(make_arrow_extractor(config), schema=EXTRACTED_SCHEMA)


def split_html(html: str, tables_per_chunk: int) -> list[tuple[int, str]]:
    """Cut ``html`` into ``(base_ordinal, chunk_html)`` pieces of at most
    ``tables_per_chunk`` top-level tables each, ``base_ordinal`` being the
    ordinal of the chunk's first table in the whole document. The cuts are
    the tokenizer's own top-level table ranges
    (:func:`htmldom.top_level_table_ranges`), so every piece parses to
    exactly its tables of the whole document. A document with no more than
    ``tables_per_chunk`` tables is one piece, ``[(0, html)]``."""
    cuts = top_level_table_ranges(html)
    if len(cuts) <= tables_per_chunk:
        return [(0, html)]
    return [
        (first, html[cuts[first][0] : cuts[min(first + tables_per_chunk, len(cuts)) - 1][1]])
        for first in range(0, len(cuts), tables_per_chunk)
    ]


def split_mega_docs(html_docs: DataFrame, tables_per_chunk: int = 64) -> DataFrame:
    """``html_docs(doc_id, html)`` → ``SPLIT_SCHEMA`` chunk rows, via
    :func:`split_html`; one output batch per input batch. The extractor
    reads these rows directly; the pipeline salts them in between so one
    document's chunks spread over the cluster."""

    def split_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, htmls, bases = [], [], []
            for doc_id, html in zip(
                batch.column("doc_id").to_pylist(), batch.column("html").to_pylist()
            ):
                for base, chunk in split_html(html, tables_per_chunk):
                    doc_ids.append(doc_id)
                    htmls.append(chunk)
                    bases.append(base)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.string()),
                    pa.array(htmls, pa.string()),
                    pa.array(bases, pa.int32()),
                ],
                names=["doc_id", "html", "table_idx_base"],
            )

    return html_docs.mapInArrow(split_batches, schema=SPLIT_SCHEMA)
