"""The extraction kernel: reference-exact table semantics over libxml2's tree.

This is the correctness core (SURVEY.md §7.1 step 1): given one HTML string
and a :class:`ParserConfig`, produce the extracted table(s) with the exact
semantics of the reference parser (bakame-php/html-table,
``src/Parser.php:366-622``), including its quirky grid-expansion variant
(SURVEY.md §2.5) which is deliberately NOT the HTML5 algorithm:

1. span clamping: colspan/rowspan < 2 or > 1000 → 1 (Parser.php:549-556);
2. colspan duplication: a cell with colspan k emits k copies of its full
   text (Parser.php:568);
3. rowspan carry keyed by DOM child index — including whitespace text nodes
   and comments (Parser.php:559-574);
4. a single trailing splice at last_index+1 after the cell loop
   (Parser.php:577-584); pending entries at higher indices stay queued;
5. rowspan state: fresh per <thead>/<tbody>/<tfoot> element, shared across
   ALL direct-<tr> children of <table> (Parser.php:483,499);
6. the header row is extracted with a throwaway rowspan state and never
   contributes carries to the body (Parser.php:534).

Per-document failures return ``status='error'`` results with the reference's
message semantics instead of raising — a raising UDF would kill the Spark
stage (SURVEY.md §2.1).

Everything here is scalar per-document logic by design: the Spark layer
(`operators/extract.py`) vectorizes at the Arrow-batch level (many documents
per Python call), satisfying the "no per-row Python on the hot path" rule
(BASELINE.json:6) — batches, not rows, cross the JVM↔Python boundary.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

from . import libxml2
from .config import ALL_SECTIONS, TR, ParserConfig, validate_header
from .errors import MSG_TABLE_NOT_FOUND, ParserError, msg_not_a_table
from .htmldom import ELEMENT, Node, php_int_cast

# PHP trim charset used for header cells ONLY (Parser.php:539):
# NBSP + space + \t \n \r \0 \x0B. Data cells are NOT normalized.
HEADER_TRIM_CHARSET = "  \t\n\r\x00\x0b"

CELL_TAGS = ("th", "td")  # Parser.php:48
# elements that carry a media reference in the interleaved corpus
# (graft extension, FIXTURES.md F13)
MEDIA_TAGS = frozenset({"img", "object", "embed", "video", "audio", "source", "iframe"})
MEDIA_REF_ATTR = "data-media-ref"


class Cell(NamedTuple):
    """One emitted grid cell copy: raw nodeValue text + the media refs found
    inside the source cell, in document order. Immutable, as copies are
    shared across colspan and rowspan; a tuple, as a frozen dataclass's
    ``__init__`` costs an ``object.__setattr__`` per field per cell."""

    text: str
    media: tuple[str, ...] = ()


@dataclass
class ExtractedTable:
    """One (document, table) extraction result."""

    table_idx: int
    caption: str | None = None
    header: list[str] = field(default_factory=list)
    # combined rows: each entry is a Cell, or None when a user header
    # references a missing source offset (Parser.php:619)
    rows: list[list[Cell | None]] = field(default_factory=list)
    status: str = "ok"
    error_msg: str | None = None

    @property
    def n_rows(self) -> int:
        return len(self.rows)

    @property
    def n_cells(self) -> int:
        return sum(len(r) for r in self.rows)

    def row_texts(self) -> list[list[str | None]]:
        """Rows as plain text lists (the reference's record arrays)."""
        return [[c.text if c is not None else None for c in row] for row in self.rows]


# nested tables are part of their outer cell's text (nodeValue
# flattening), not independent extraction units
TOP_LEVEL_TABLES = "//table[not(ancestor::table)]"


def _span_size(node: Node, attr: str) -> int:
    """Parser.php:549-556 — PHP int cast then clamp to [2, 1000] else 1."""
    span = php_int_cast(node.attrs.get(attr, ""))
    if span < 2 or span > 1000:
        return 1
    return span


def _collect_media(cell: Node) -> tuple[str, ...]:
    refs: list[str] = []
    for el in cell.iter_elements():
        if el.tag in MEDIA_TAGS:
            ref = el.attrs.get(MEDIA_REF_ATTR)
            if ref:
                refs.append(ref)
    return tuple(refs)


def _has_element_child(node: Node) -> bool:
    for c in node.children:
        if type(c) is Node and c.kind == ELEMENT:
            return True
    return False


def extract_record(
    tr: Node,
    row_span_indices: dict[int, list[list[Cell]]],
    emit_media: bool,
) -> list[Cell]:
    """Grid-expand one <tr> (Parser.php:547-587, byte-for-byte semantics).

    ``row_span_indices`` maps DOM child index → queue of pending cell blocks
    from earlier rowspans; mutated in place exactly like the PHP reference.
    """
    row: list[Cell] = []
    index = -2  # PHP: $index ??= -2 when the tr has no childNodes
    for index, node in enumerate(tr.children):
        if row_span_indices:
            pending = row_span_indices.get(index)
            if pending is not None:
                row.extend(pending.pop(0))
                if not pending:
                    del row_span_indices[index]
        if type(node) is Node and node.kind == ELEMENT and node.tag in CELL_TAGS:
            children = node.children
            if len(children) == 1 and type(children[0]) is str:
                # dominant shape: <td>text</td> — no helper calls
                text = children[0]
                has_children_elements = False
            else:
                has_children_elements = _has_element_child(node)
                text = node.text_content()
            media = (
                _collect_media(node) if (emit_media and has_children_elements) else ()
            )
            cell = Cell(text, media)
            if node.attrs:
                colspan = _span_size(node, "colspan")
                rowspan = _span_size(node, "rowspan")
            else:
                colspan = rowspan = 1
            cells = [cell] * colspan
            row.extend(cells)
            if rowspan > 1:
                row_span_indices[index] = [list(cells) for _ in range(rowspan - 1)]
    # single trailing splice at last_index + 1 (Parser.php:577-584)
    index += 1
    pending = row_span_indices.get(index)
    if pending is not None:
        row.extend(pending.pop(0))
        if not pending:
            del row_span_indices[index]
    return row


def _extract_header_row(tr: Node, emit_media: bool) -> list[str]:
    """Parser.php:532-540: grid-expand with a throwaway rowspan state, then
    trim each cell with the exact PHP charset."""
    record = extract_record(tr, {}, emit_media)
    return [cell.text.strip(HEADER_TRIM_CHARSET) for cell in record]


def _filter_record(node: Node, marked_id: int | None) -> Node | None:
    """Parser.php:519-527 — keep only <tr> elements that are not the marked
    header row (marking is by node identity here; the reference mutates the
    DOM with a marker attribute, same observable effect)."""
    if type(node) is not Node or node.kind != ELEMENT or node.tag != "tr":
        return None
    if marked_id is not None and id(node) == marked_id:
        return None
    return node


def _combine(record: list[Cell], header_pairs) -> list[Cell | None]:
    """Parser.php:614-622 — project the positional record through the
    (possibly sparse, reordering) header; missing offsets → None."""
    return [record[off] if 0 <= off < len(record) else None for off, _ in header_pairs]


def _header_row_and_caption(
    table: Node, section: str | None, offset: int
) -> tuple[Node | None, Node | None]:
    """The reference's two lookups over the re-rooted table
    (Parser.php:375-390), found in one document-order walk of its subtree:

    - the header row, ``(//table/{section}/tr)[offset + 1]``
      (``Section::xpathRow``, Section.php:19-28): the ``offset``-th ``tr``
      whose parent is a ``section`` child of a ``table`` — for the ``tr``
      section, a ``tr`` child of a ``table``. ``section=None`` skips it;
    - the caption, ``(//caption)[1]``.

    Nested tables are part of the subtree, so either may come from a NESTED
    table (the reference's quirk). Returns ``(row, caption)``, None when
    absent."""
    row = caption = None
    want_row = section is not None
    # while the row is wanted, tuple entries carry the node's place: 1 =
    # child of a table, 2 = child of a ``section`` under a table; every other
    # node rides bare, so the walk allocates only around table levels
    row_under = 1 if section == TR else 2
    seen = 0
    stack: list = [table]
    while want_row and stack:
        item = stack.pop()
        if type(item) is tuple:
            node, under = item
        else:
            node, under = item, 0
        if type(node) is not Node or node.kind != ELEMENT:
            continue
        tag = node.tag
        if tag == "caption" and caption is None:
            caption = node
        elif tag == "tr" and under == row_under:
            if seen == offset:
                row = node
                want_row = False
            seen += 1
        children = node.children
        if tag == "table":
            stack.extend([(c, 1) for c in reversed(children)])
        elif under == 1 and tag == section and row_under == 2:
            stack.extend([(c, 2) for c in reversed(children)])
        elif children:
            stack.extend(reversed(children))
    # the rest of the walk looks for the caption alone
    stack = [item[0] if type(item) is tuple else item for item in stack]
    while caption is None and stack:
        node = stack.pop()
        if type(node) is Node and node.kind == ELEMENT:
            if node.tag == "caption":
                caption = node
            elif node.children:
                stack.extend(reversed(node.children))
    return row, caption


def _extract_table(
    table_node: Node,
    config: ParserConfig,
    table_idx: int,
) -> ExtractedTable:
    """Steps 3-7 of the reference lifecycle (SURVEY.md §3.2) for one selected
    table element: resolve header and caption over its subtree, walk
    sections, grid-expand, combine."""
    # -- header resolution (precedence at Parser.php:376-380) --------------
    marked_id: int | None = None
    header_section, offset = None, 0
    if config.table_header:
        header_pairs = list(config.table_header)
        header_names = [name for _, name in header_pairs]
    elif config.ignore_table_header:
        header_pairs = []
        header_names = []
    else:
        header_section, offset = config.table_header_row
    tr, caption_node = _header_row_and_caption(table_node, header_section, offset)
    if header_section is not None:
        header_names = (
            _extract_header_row(tr, config.emit_media_spans) if tr is not None else []
        )
        if header_names:
            # extracted headers are re-validated for duplicates
            # (Parser.php:482); user headers were validated at config time
            try:
                validate_header(header_names)
            except ParserError as exc:
                return ExtractedTable(
                    table_idx=table_idx, status="error", error_msg=str(exc)
                )
            # reference marks the DOM row so body extraction skips it
            # (Parser.php:536, :524)
            marked_id = id(tr)
        header_pairs = list(enumerate(header_names))

    # -- body extraction (Parser.php:475-508) -------------------------------
    # '//table' item(0) over the re-rooted table (Parser.php:478) is the
    # selected table itself: document order puts the outer table first.
    included = set(config.included_sections)
    rows: list[list[Cell | None]] = []
    row_span_shared: dict[int, list[list[Cell]]] = {}  # direct-tr state, shared
    for child in table_node.children:
        if type(child) is not Node or child.kind != ELEMENT:
            continue
        section = child.tag if child.tag in ALL_SECTIONS else None
        if section is None or section not in included:
            continue
        if section == TR:
            record_tr = _filter_record(child, marked_id)
            if record_tr is not None:
                record = extract_record(
                    record_tr, row_span_shared, config.emit_media_spans
                )
                rows.append(
                    _combine(record, header_pairs) if header_pairs else list(record)
                )
            continue
        row_span_section: dict[int, list[list[Cell]]] = {}  # fresh per section
        for tr in child.children:
            record_tr = _filter_record(tr, marked_id)
            if record_tr is not None:
                record = extract_record(
                    record_tr, row_span_section, config.emit_media_spans
                )
                rows.append(
                    _combine(record, header_pairs) if header_pairs else list(record)
                )

    # -- caption (Parser.php:389-390) ---------------------------------------
    caption = caption_node.text_content() if caption_node is not None else config.caption

    return ExtractedTable(
        table_idx=table_idx,
        caption=caption,
        header=header_names,
        rows=rows,
    )


def parse_document(html: str, config: ParserConfig) -> list[ExtractedTable]:
    """Extract table(s) from one HTML document.

    Single-table mode (reference semantics): select via
    ``config.table_expression``; exactly one result, ``status='error'`` when
    the selection fails (messages per Parser.php:371,373).

    ``select_all_tables`` mode (graft extension for the interleaved corpus):
    one result per top-level table, ``table_idx`` = 0-based ordinal; a
    document with no tables yields no results.

    libxml2 parses and selects; only the selected tables are converted to
    ``Node`` trees.
    """
    parse_errors: list[str] | None = [] if config.fail_on_xml_errors else None
    with libxml2.document(html, parse_errors) as doc:
        if parse_errors:
            # reference: ParserError::dueToLibXmlErrors (Parser.php:450-453)
            msg = "\n".join(f"parse error: {e}" for e in parse_errors)
            return [ExtractedTable(table_idx=0, status="error", error_msg=msg)]

        if config.select_all_tables:
            return [
                _extract_table(libxml2.to_node(table), config, i)
                for i, table in enumerate(libxml2.query(doc, TOP_LEVEL_TABLES))
            ]

        selected = libxml2.query(doc, config.table_expression)
        # the reference takes ->item(0) and gates on `instanceof DOMElement`
        # (Parser.php:370): an empty or scalar result, an attribute, text,
        # comment, PI, namespace or the document node (None) is not found
        first = selected[0] if selected else None
        if first is None:
            return [
                ExtractedTable(table_idx=0, status="error", error_msg=MSG_TABLE_NOT_FOUND)
            ]
        tag = libxml2.element_name(first)
        if tag != "table":
            return [
                ExtractedTable(table_idx=0, status="error", error_msg=msg_not_a_table(tag))
            ]
        return [_extract_table(libxml2.to_node(first), config, 0)]
