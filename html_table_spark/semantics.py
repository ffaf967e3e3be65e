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

libxml2 parses and selects the tables; the grid, header row and caption
lookup and the user header's projection included, runs in C over
libxml2's nodes, one ``_tree.table()`` call per selected table
(``_tree.c``). This module picks the header by precedence, trims and
validates an extracted one, and applies the default caption, once for both
outputs: :func:`parse_document`'s ``ExtractedTable`` objects, and the
Arrow operator's ``libxml2.Builder``, which keeps the grid in C and encodes
it as output spans without a Python object per cell or span.

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

from . import libxml2
from .config import ParserConfig, validate_header
from .errors import MSG_TABLE_NOT_FOUND, ParserError, msg_not_a_table
from .htmldom import Cell

# PHP trim charset used for header cells ONLY (Parser.php:539):
# NBSP + space + \t \n \r \0 \x0B. Data cells are NOT normalized.
HEADER_TRIM_CHARSET = "  \t\n\r\x00\x0b"


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


class _Tables(list):
    """:func:`parse_document`'s output: each table as an ExtractedTable
    (``libxml2.Builder`` takes the same calls)."""

    def add(self, table_idx: int, caption, header: list[str], rows) -> None:
        self.append(ExtractedTable(table_idx=table_idx, caption=caption, header=header, rows=rows))

    def error(self, table_idx: int, msg: str) -> None:
        self.append(ExtractedTable(table_idx=table_idx, status="error", error_msg=msg))


def _extract_table(table: int, config: ParserConfig, table_idx: int, out) -> None:
    """Steps 3-7 of the reference lifecycle (SURVEY.md §3.2) for the selected
    table element at ``table``, added to ``out``: ``libxml2.table`` does the
    grid in C; here the header is chosen by precedence (Parser.php:376-380),
    an extracted one trimmed and validated, and the default caption
    applied."""
    section, offset = config.table_header_row
    if config.table_header or config.ignore_table_header:
        section = None
    caption, header, rows = libxml2.table(
        table, section, offset, config.included_sections, config.table_header, out
    )
    if config.table_header:
        header = [name for _, name in config.table_header]
    elif header:
        header = [name.strip(HEADER_TRIM_CHARSET) for name in header]
        # extracted headers are re-validated for duplicates (Parser.php:482);
        # user headers were validated at config time
        try:
            validate_header(header)
        except ParserError as exc:
            return out.error(table_idx, str(exc))
    out.add(table_idx, config.caption if caption is None else caption, header, rows)


def parse_document(html: str, config: ParserConfig) -> list[ExtractedTable]:
    """Extract table(s) from one HTML document.

    Single-table mode (reference semantics): select via
    ``config.table_expression``; exactly one result, ``status='error'`` when
    the selection fails (messages per Parser.php:371,373).

    ``select_all_tables`` mode (graft extension for the interleaved corpus):
    one result per top-level table, ``table_idx`` = 0-based ordinal; a
    document with no tables yields no results.
    """
    tables = _Tables()
    extract_document(html, config, tables)
    return list(tables)


def extract_document(html: str, config: ParserConfig, out) -> None:
    """:func:`parse_document`'s tables added to ``out``: a ``_Tables`` or a
    ``libxml2.Builder``. libxml2 parses and selects; ``_tree.c`` reads each
    selected table."""
    parse_errors: list[str] | None = [] if config.fail_on_xml_errors else None
    with libxml2.document(html, parse_errors) as doc:
        if parse_errors:
            # reference: ParserError::dueToLibXmlErrors (Parser.php:450-453)
            return out.error(0, "\n".join(f"parse error: {e}" for e in parse_errors))

        if config.select_all_tables:
            for i, table in enumerate(libxml2.top_level_tables(doc)):
                _extract_table(table, config, i, out)
            return

        selected = libxml2.query(doc, config.table_expression)
        # the reference takes ->item(0) and gates on `instanceof DOMElement`
        # (Parser.php:370): an empty or scalar result, an attribute, text,
        # comment, PI, namespace or the document node (None) is not found
        first = selected[0] if selected else None
        if first is None:
            return out.error(0, MSG_TABLE_NOT_FOUND)
        tag = libxml2.element_name(first)
        if tag != "table":
            return out.error(0, msg_not_a_table(tag))
        _extract_table(first, config, 0, out)
