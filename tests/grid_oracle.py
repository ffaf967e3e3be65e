"""The reference's grid in Python over ``htmldom.Node`` trees: the oracle the
compiled grid (``_tree.c``'s ``table()``, behind ``semantics.parse_document``)
is checked against.

This is the extraction ``semantics.py`` ran before the grid moved to C
(Parser.php:366-622, the rules in ``semantics.py``'s docstring), less its
fast paths, with one fix both carry: PHP's ``(int)`` cast reads ASCII digits
only. :func:`extract_table` takes a table ``Node`` from
``htmldom.parse_html`` and returns what ``parse_document`` returns for it;
:func:`parse_document` is ``semantics.parse_document`` with this grid.
"""

from __future__ import annotations

from unittest import mock

from html_table_spark import libxml2, semantics
from html_table_spark.config import ALL_SECTIONS, TR, ParserConfig, validate_header
from html_table_spark.errors import ParserError
from html_table_spark.htmldom import ELEMENT, Cell, Node
from html_table_spark.semantics import HEADER_TRIM_CHARSET, ExtractedTable

CELL_TAGS = ("th", "td")  # Parser.php:48
# elements that carry a media reference in the interleaved corpus
# (graft extension, FIXTURES.md F13)
MEDIA_TAGS = frozenset({"img", "object", "embed", "video", "audio", "source", "iframe"})
MEDIA_REF_ATTR = "data-media-ref"
_DIGITS = frozenset("0123456789")
# the selection of all-tables mode, which ``libxml2.top_level_tables`` walks
# in C: nested tables are part of their outer cell's text
TOP_LEVEL_TABLES = "//table[not(ancestor::table)]"


def php_int_cast(value: str) -> int:
    """PHP ``(int)`` string-cast semantics (reference ``Parser.php:550``):
    leading whitespace skipped, optional sign, longest numeric prefix parsed
    (ASCII digits only, as PHP reads them), anything else → 0.
    ``(int)"3x" == 3``; ``(int)"" == 0``; ``(int)"1e3"`` follows PHP's
    numeric-string fast path (== 1000); ``(int)"²" == 0``."""
    s = value.lstrip(" \t\n\r\v\f")
    i, n = 0, len(s)
    if i < n and s[i] in "+-":
        i += 1
    start_digits = i
    while i < n and s[i] in _DIGITS:
        i += 1
    if i == start_digits:
        return 0
    int_end = i
    # PHP numeric-string float prefix: 12.5 / 1e3 / 1.5e2 → truncate toward 0
    j = i
    frac = ""
    exp = ""
    if j < n and s[j] == ".":
        j += 1
        fstart = j
        while j < n and s[j] in _DIGITS:
            j += 1
        frac = s[fstart:j]
    if j < n and s[j] in "eE":
        k = j + 1
        if k < n and s[k] in "+-":
            k += 1
        estart = k
        while k < n and s[k] in _DIGITS:
            k += 1
        if k > estart:
            exp = s[j:k]
            j = k
    if frac or exp:
        try:
            return int(float(s[:j]))
        except (ValueError, OverflowError):
            return int(s[:int_end])
    return int(s[:int_end])


def _span_size(node: Node, attr: str) -> int:
    """Parser.php:549-556 — PHP int cast then clamp to [2, 1000] else 1."""
    span = php_int_cast(node.attrs.get(attr, ""))
    if span < 2 or span > 1000:
        return 1
    return span


def iter_elements(node: Node):
    """All descendant elements of ``node`` (not itself), document order."""
    stack = list(reversed(node.children))
    while stack:
        node = stack.pop()
        if type(node) is Node and node.kind == ELEMENT:
            yield node
            stack.extend(reversed(node.children))


def _collect_media(cell: Node) -> tuple[str, ...]:
    refs: list[str] = []
    for el in iter_elements(cell):
        if el.tag in MEDIA_TAGS:
            ref = el.attrs.get(MEDIA_REF_ATTR)
            if ref:
                refs.append(ref)
    return tuple(refs)


def extract_record(
    tr: Node,
    row_span_indices: dict[int, list[list[Cell]]],
) -> list[Cell]:
    """Grid-expand one <tr> (Parser.php:547-587, byte-for-byte semantics).

    ``row_span_indices`` maps DOM child index → queue of pending cell blocks
    from earlier rowspans; mutated in place exactly like the PHP reference.
    """
    row: list[Cell] = []
    index = -2  # PHP: $index ??= -2 when the tr has no childNodes
    for index, node in enumerate(tr.children):
        pending = row_span_indices.get(index)
        if pending is not None:
            row.extend(pending.pop(0))
            if not pending:
                del row_span_indices[index]
        if type(node) is Node and node.kind == ELEMENT and node.tag in CELL_TAGS:
            cell = Cell(node.text_content(), _collect_media(node))
            colspan = _span_size(node, "colspan")
            rowspan = _span_size(node, "rowspan")
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


def _extract_header_row(tr: Node) -> list[str]:
    """Parser.php:532-540: grid-expand with a throwaway rowspan state, then
    trim each cell with the exact PHP charset."""
    record = extract_record(tr, {})
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


def header_row_and_caption(
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
    # tuple entries carry the node's place: 1 = child of a table, 2 = child
    # of a ``section`` under a table; every other node rides bare
    row_under = 1 if section == TR else 2
    seen = 0
    stack: list = [table]
    while stack and (caption is None or want_row):
        item = stack.pop()
        node, under = item if type(item) is tuple else (item, 0)
        if type(node) is not Node or node.kind != ELEMENT:
            continue
        tag = node.tag
        if tag == "caption" and caption is None:
            caption = node
        elif want_row and tag == "tr" and under == row_under:
            if seen == offset:
                row = node
                want_row = False
            seen += 1
        children = node.children
        if tag == "table":
            stack.extend([(c, 1) for c in reversed(children)])
        elif under == 1 and tag == section and row_under == 2:
            stack.extend([(c, 2) for c in reversed(children)])
        else:
            stack.extend(reversed(children))
    return row, caption


def extract_table(table_node: Node, config: ParserConfig, table_idx: int) -> ExtractedTable:
    """``parse_document``'s result for one table element: resolve header and
    caption over its subtree, walk sections, grid-expand, combine."""
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
    tr, caption_node = header_row_and_caption(table_node, header_section, offset)
    if header_section is not None:
        header_names = _extract_header_row(tr) if tr is not None else []
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
        row_span = row_span_shared if section == TR else {}  # fresh per section
        for tr in [child] if section == TR else child.children:
            record_tr = _filter_record(tr, marked_id)
            if record_tr is not None:
                record = extract_record(record_tr, row_span)
                rows.append(_combine(record, header_pairs) if header_pairs else list(record))

    # -- caption (Parser.php:389-390) ---------------------------------------
    caption = caption_node.text_content() if caption_node is not None else config.caption
    return ExtractedTable(table_idx=table_idx, caption=caption, header=header_names, rows=rows)


def table_node(address: int) -> Node:
    """The table element at ``address`` (a ``libxml2.query`` result) as a
    Node, its subtree converted by ``_tree.children``; the grid reads none
    of the table's own attributes, so it has none."""
    table = Node(ELEMENT, tag="table")
    table.children = libxml2._tree.children(address)
    return table


def parse_document(html: str, config: ParserConfig) -> list[ExtractedTable]:
    """``semantics.parse_document`` with this grid in place of the compiled
    one: the same parse and selection, then :func:`extract_table` over each
    selected table converted to Nodes."""
    with mock.patch.object(
        semantics, "_extract_table", lambda table, c, i, out: out.append(extract_table(table_node(table), c, i))
    ):
        return semantics.parse_document(html, config)
