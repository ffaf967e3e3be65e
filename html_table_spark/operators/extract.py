"""The distributed extraction operator: Arrow in, Arrow out (``mapInArrow``).

Design (SURVEY.md §1.4, §3.4): Catalyst plans the Parquet/Iceberg scan with
column pruning down to (doc_id, spans), and the HTML is reassembled
JVM-side (:func:`html_reassembly_col`); Arrow moves columnar batches into
the Python worker; this operator runs the kernel (semantics.py) per document
inside the batch and yields bounded output batches (1 input doc → N output
tables, a UDTF-shaped fan-out).  There is **no per-row Python UDF** anywhere
— the JVM↔Python boundary is crossed per Arrow batch, not per row
(BASELINE.json:6 hot-path constraint).

One stage, one ``mapInArrow`` (:func:`make_arrow_extractor`), one output
row shape: ``(doc_id, html)`` in, ``EXTRACTED_SCHEMA`` rows out, every
document parsed whole. The rows never exist as Python objects: the kernel
(``semantics.extract_document``) reads each table's grid in C into a
``libxml2.Builder``, which encodes the spans and the other columns straight
into growable C buffers, and each output batch wraps those buffers with
``pa.Array.from_buffers``. Per table, Python touches only the header names
and caption (precedence, trim, validation).

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

from .. import libxml2
from ..config import ParserConfig
from ..semantics import extract_document
from ..sources.documents import EXTRACTED_SCHEMA

# output batch bounds: rows, and approx bytes of span text (Arrow string
# offsets are int32: one array must stay far below 2 GB)
_FLUSH_ROWS = 4096
_FLUSH_BYTES = 256 * 1024 * 1024

_ARROW_OUT = to_arrow_schema(EXTRACTED_SCHEMA)


def html_reassembly_col(spans_col: str = "spans"):
    """JVM-side twin of ``spans.doc_spans_to_html``: text spans with
    non-null text, ordered by (offset, original span position) — null
    offsets sort as 0 and ties keep span order, exactly the Python
    reference's stable sort — concatenated into one HTML string; a null or
    empty span array gives ''.

    Doing the reassembly in the JVM means the Python boundary carries ONE
    string column per document instead of the span struct array: the
    kind/media_ref/offset child arrays and every media span never cross
    the JVM↔Python socket.

    One SQL expression, parsed once: building it from ``F`` calls costs a
    Py4J round trip per call (about 15), serial driver time in every
    plan. It has one lambda and a comparator-free ``array_sort``: structs
    sort field by field, so ``(o, i, t)`` under the default ordering is the
    stable (offset, position) sort (``i`` is unique per array, so ``t`` is
    never compared). A span that is not text, or has null text, keeps a
    null ``t`` rather than being filtered out: ``array_join`` skips nulls,
    so the filter rides the join, and the sorted ``t`` values come out as a
    lambda-free field access. Each lambda is resolved again on every
    analyzer pass and called per element at runtime; a comparator would
    add a call per comparison."""
    return F.expr(
        f"coalesce(array_join(array_sort(transform(`{spans_col}`, (s, i) -> struct("
        "coalesce(s.offset, 0) AS o, i AS i, "
        "CASE WHEN s.kind = 'text' AND s.text IS NOT NULL THEN s.text END AS t))).t, ''), '')"
    )


def make_arrow_extractor(config: ParserConfig):
    """mapInArrow extraction over ``(doc_id, html)`` batches: Arrow in,
    Arrow out, flat buffers throughout. Every document is parsed whole."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        started = time.monotonic()
        # the kernel's Python objects (a few per table) are acyclic —
        # refcounting frees them; CPython's cyclic GC otherwise triggers
        # on the container allocations of a batch. No
        # gc.collect() at the end: there is no cycle for it to find, it was
        # most of the operator's own per-task cost (patch_zipimport in
        # __init__.py), and the automatic collector resumes once GC is
        # re-enabled.
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
        # libxml2.Builder, not the class itself: the closure is pickled, and
        # a C type outside an importable module would pickle by value
        builder = libxml2.Builder()
        buf_bytes = 0  # approx bytes of span text buffered

        def flush() -> pa.RecordBatch:
            nonlocal buf_bytes
            buf_bytes = 0
            n = builder.rows
            wall = (time.monotonic() - started) * 1000.0
            columns = [_array(field.type, spec) for field, spec in zip(_ARROW_OUT, builder.flush())]
            columns += [pa.array([part_id] * n, pa.int32()), pa.array([wall] * n, pa.float64())]
            return pa.RecordBatch.from_arrays(columns, schema=_ARROW_OUT)

        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            # HTML is reassembled JVM-side (html_reassembly_col): one string
            # column crosses Arrow, already filtered/ordered/joined
            htmls = batch.column("html").to_pylist()
            for doc_id, html in zip(doc_ids, htmls):
                rows = builder.rows
                builder.start(doc_id)
                extract_document(html, config, builder)
                if builder.rows == rows and config.select_all_tables:
                    # completion marker: a doc with zero tables must still be
                    # recorded, or snapshot-resume would reprocess it forever
                    # (filter table_idx >= 0 for real tables)
                    builder.empty()
                buf_bytes += len(html)  # upper bound on this doc's span text
                if builder.rows >= _FLUSH_ROWS or buf_bytes >= _FLUSH_BYTES:
                    yield flush()
        if builder.rows:
            yield flush()

    return extract_batches


def _array(type_: pa.DataType, spec) -> pa.Array:
    """One column of a ``Builder.flush()``: its ``(length, null_count,
    buffers, children)`` over the builder's bytes, children alike."""
    length, nulls, buffers, children = spec
    if pa.types.is_list(type_):
        child_types = [type_.value_type]
    else:
        child_types = [field.type for field in type_] if pa.types.is_struct(type_) else []
    return pa.Array.from_buffers(
        type_,
        length,
        [None if b is None else pa.py_buffer(b) for b in buffers],
        nulls,
        children=[_array(t, c) for t, c in zip(child_types, children)] or None,
    )


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
    whole, whatever its size. The plan is the pipeline's
    (:func:`~html_table_spark.plans.pipeline.plan_extraction`).
    """
    from ..plans.pipeline import plan_extraction

    return plan_extraction(documents, config)
