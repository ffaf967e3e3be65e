"""Span-stream encoding — the corpus data model.

Input documents are interleaved text+media span streams
(BASELINE.json input_hint)::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int32>>)

A document's HTML is the concatenation of its ``kind='text'`` span texts
ordered by ``offset`` (FIXTURES.md "Input schema"); ``kind='media'`` spans
mark an img/object occurrence whose serialized form
(``<img data-media-ref="…"/>``) lives inside the surrounding text spans.

Extracted tables are encoded as output span sequences (FIXTURES.md "Output
schema"): caption span, header spans, then per body row one ``cell`` span
per grid-expanded cell with ``media`` spans interleaved immediately after
their containing cell copy.  ``offset`` is the 0-based position in the
output sequence; the correctness gate is exact (kind, text, media_ref,
order) equality.
"""

from __future__ import annotations

from .semantics import Cell, ExtractedTable

# span kinds
KIND_TEXT = "text"
KIND_MEDIA = "media"
KIND_CAPTION = "caption"
KIND_HEADER = "header"
KIND_CELL = "cell"


def doc_spans_to_html(spans) -> str:
    """Reassemble a document's HTML from its input span stream.

    ``spans`` is an iterable of (kind, text, media_ref, offset) tuples or
    dicts. Only ``kind='text'`` spans contribute, ordered by offset.
    """
    texts: list[tuple[int, str]] = []
    for span in spans:
        if isinstance(span, dict):
            kind, text, offset = span.get("kind"), span.get("text"), span.get("offset")
        else:
            kind, text, _, offset = span
        if kind == KIND_TEXT and text is not None:
            texts.append((offset if offset is not None else 0, text))
    texts.sort(key=lambda item: item[0])
    return "".join(text for _, text in texts)


def html_to_doc_spans(html: str, media_refs: list[str] | None = None) -> list[dict]:
    """Build an input span stream for one document: the HTML as a single
    text span, plus one media span per referenced media id (the serialized
    ``<img data-media-ref>`` elements already sit inside the HTML text)."""
    spans = [{"kind": KIND_TEXT, "text": html, "media_ref": None, "offset": 0}]
    for i, ref in enumerate(media_refs or []):
        spans.append(
            {"kind": KIND_MEDIA, "text": "", "media_ref": ref, "offset": i + 1}
        )
    return spans


def encode_table_spans(table: ExtractedTable) -> list[dict]:
    """Extracted table → output span sequence (FIXTURES.md output schema),
    one dict per span, as :func:`encode_table_flat` encodes it."""
    kind: list = []
    text: list = []
    ref: list = []
    off: list = []
    encode_table_flat(table, kind, text, ref, off)
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": o}
        for k, t, r, o in zip(kind, text, ref, off)
    ]


def encode_table_flat(
    table: ExtractedTable,
    out_kind: list,
    out_text: list,
    out_ref: list,
    out_off: list,
) -> int:
    """Extracted table → output span sequence (FIXTURES.md output schema),
    appended in place as four columns; returns the number of spans. An
    error table has none; otherwise:

    - one ``caption`` span when a caption exists (extracted or config default);
    - one ``header`` span per resolved header cell, in order;
    - per body row in extraction order, one ``cell`` span per grid-expanded
      cell (colspan/rowspan duplicates repeat; null-filled combine slots emit
      a cell span with null text), each immediately followed by ``media``
      spans (text ``""``) for refs inside that cell copy, in document order.

    The Arrow operator encodes the same spans in C (``_tree.c``'s
    ``Builder.add``); this is its oracle."""
    if table.status != "ok":
        return 0
    n = 0
    if table.caption is not None:
        out_kind.append(KIND_CAPTION)
        out_text.append(table.caption)
        out_ref.append(None)
        out_off.append(n)
        n += 1
    for name in table.header:
        out_kind.append(KIND_HEADER)
        out_text.append(name)
        out_ref.append(None)
        out_off.append(n)
        n += 1
    for row in table.rows:
        for cell in row:
            if cell is None:
                out_kind.append(KIND_CELL)
                out_text.append(None)
                out_ref.append(None)
                out_off.append(n)
                n += 1
            else:
                out_kind.append(KIND_CELL)
                out_text.append(cell.text)
                out_ref.append(None)
                out_off.append(n)
                n += 1
                for ref in cell.media:
                    out_kind.append(KIND_MEDIA)
                    out_text.append("")
                    out_ref.append(ref)
                    out_off.append(n)
                    n += 1
    return n


def spans_signature(spans) -> tuple:
    """Hashable (kind, text, media_ref, order) signature for golden
    comparison — the BASELINE.json per-row invariant."""
    out = []
    for span in spans:
        if isinstance(span, dict):
            out.append(
                (span.get("kind"), span.get("text"), span.get("media_ref"),
                 span.get("offset"))
            )
        else:
            kind, text, ref, off = span
            out.append((kind, text, ref, off))
    out.sort(key=lambda s: (s[3] is None, s[3]))
    return tuple(out)
