"""Immutable extraction configuration (the reference's builder surface).

The reference ``Parser`` is an immutable builder — every ``withX`` /
``tableY`` method returns a new instance and validates eagerly
(``src/Parser.php:55-322``).  Here the same surface is a frozen dataclass:
cheap to hash, trivially picklable, and **broadcast once** to every Spark
task instead of being re-validated per document.  All validation happens at
pipeline-build time on the driver (mirroring the reference's eager throws);
per-document failures on executors become ``status='error'`` rows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from .errors import (
    MSG_ID_WHITESPACE,
    MSG_NEGATIVE_HEADER_OFFSET,
    MSG_NEGATIVE_POSITION,
    MSG_NON_STRING_HEADER,
    ParserError,
)
from .libxml2 import validate

# Section values (reference enum Section, src/Section.php:7-13).
THEAD = "thead"
TBODY = "tbody"
TFOOT = "tfoot"
TR = "tr"  # direct <tr> children of <table> (Section.php:25)
ALL_SECTIONS = (THEAD, TBODY, TFOOT, TR)
# canonical sort order used by includeSection's ksort (Parser.php:209):
# PHP ksort on the string enum values → alphabetical.
_SECTION_SORT = {name: i for i, name in enumerate(sorted(ALL_SECTIONS))}


@dataclass(frozen=True)
class ParserConfig:
    """One extraction job's semantics. Defaults match the reference
    constructor (src/Parser.php:55-64)."""

    table_expression: str = "(//table)[1]"
    caption: str | None = None
    # user-supplied header: tuple of (source_column_offset, name) pairs in
    # insertion order — models PHP's ordered sparse arrays
    # (ParserTest.php:307 uses [3=>'Annee', 2=>'Sexe', 0=>'Firstname', ...]).
    table_header: tuple[tuple[int, str], ...] = ()
    ignore_table_header: bool = False
    # header row as (section, 0-based offset): ``Section::xpathRow``
    # (src/Section.php:19-28), found by the compiled grid (_tree.c lookups)
    table_header_row: tuple[str, int] = (THEAD, 0)
    # thead EXCLUDED from data by default (Parser.php:61)
    included_sections: tuple[str, ...] = (TBODY, TFOOT, TR)
    fail_on_xml_errors: bool = False
    # ---- graft extensions (not in the reference; needed by the corpus
    # pipeline per BASELINE.json north_rule) -------------------------------
    # extract every top-level table in the document instead of one selected
    # table (mega-docs contain thousands; table_idx is the 0-based ordinal).
    select_all_tables: bool = False

    # -- builder methods (reference parity) ---------------------------------

    def table_xpath_position(self, expression: str) -> "ParserConfig":
        """Parser.php:67-92 — eager XPath validation."""
        if expression == self.table_expression:
            return self
        validate(expression)
        return replace(self, table_expression=expression)

    def table_position(self, position_or_id: int | str) -> "ParserConfig":
        """Parser.php:97-107."""
        if isinstance(position_or_id, str):
            if re.search(r"\s", position_or_id):
                raise ParserError(MSG_ID_WHITESPACE)
            return self.table_xpath_position(f'(//table[@id="{position_or_id}"])[1]')
        if position_or_id < 0:
            raise ParserError(MSG_NEGATIVE_POSITION)
        return self.table_xpath_position(f"(//table)[{position_or_id + 1}]")

    def with_table_header(self, header_row) -> "ParserConfig":
        """Parser.php:114-131. Accepts a list of names or a dict
        {source_offset: name} (sparse / reordering, like PHP arrays)."""
        pairs = _normalize_header(header_row)
        validate_header([name for _, name in pairs])
        return replace(self, table_header=pairs)

    def ignore_header(self) -> "ParserConfig":
        return replace(self, ignore_table_header=True)

    def resolve_header(self) -> "ParserConfig":
        return replace(self, ignore_table_header=False)

    def table_header_position(self, section: str, offset: int = 0) -> "ParserConfig":
        _check_section(section)
        if offset < 0:
            raise ParserError(MSG_NEGATIVE_HEADER_OFFSET)
        return replace(self, table_header_row=(section, offset))

    def include_all_sections(self) -> "ParserConfig":
        return self.include_section(*ALL_SECTIONS)

    def exclude_all_sections(self) -> "ParserConfig":
        return self.exclude_section(*ALL_SECTIONS)

    def include_section(self, *sections: str) -> "ParserConfig":
        current = {s: True for s in self.included_sections}
        for s in sections:
            _check_section(s)
            current[s] = True
        ordered = tuple(sorted(current, key=_SECTION_SORT.__getitem__))
        return replace(self, included_sections=ordered)

    def exclude_section(self, *sections: str) -> "ParserConfig":
        current = dict.fromkeys(self.included_sections)
        for s in sections:
            _check_section(s)
            current.pop(s, None)
        return replace(self, included_sections=tuple(current))

    def with_caption(self, caption: str | None) -> "ParserConfig":
        return replace(self, caption=caption)

    def fail_on_errors(self) -> "ParserConfig":
        return replace(self, fail_on_xml_errors=True)

    def ignore_errors(self) -> "ParserConfig":
        return replace(self, fail_on_xml_errors=False)

    def all_tables(self) -> "ParserConfig":
        return replace(self, select_all_tables=True)


def _check_section(section: str) -> None:
    if section not in ALL_SECTIONS:
        raise ParserError(f"Unknown table section `{section}`.")


_PHP_INT_KEY_RE = re.compile(r"-?[1-9][0-9]*|0")


def _php_array_key(off) -> int:
    """PHP auto-casts array keys before user code ever sees them: canonical
    decimal integer strings ("2", "-5" — not "02", " 2", "+2", "-0") become
    int, floats truncate toward zero, bools become 0/1. Anything else stays
    a string key, which can never equal a source offset → normalize to -1
    (combineArray null-fills it, ``$record[$k] ?? null``)."""
    if isinstance(off, bool):
        return int(off)
    if isinstance(off, int):
        return off
    if isinstance(off, float) and off == off and abs(off) != float("inf"):
        return int(off)
    if isinstance(off, str) and _PHP_INT_KEY_RE.fullmatch(off):
        return int(off)
    return -1


def _normalize_header(header_row) -> tuple[tuple[int, str], ...]:
    """PHP array-key semantics (Parser.php:114-131 validates VALUES only):
    any key is accepted — negative or non-matching keys simply never match a
    source offset, so combineArray null-fills them (``$record[$k] ?? null``).
    Keys are first coerced by the PHP array-key cast rule
    (:func:`_php_array_key`), so ``{'2': 'x'}`` selects source offset 2
    exactly as the reference does."""
    if isinstance(header_row, dict):
        items = list(header_row.items())
    else:
        items = list(enumerate(header_row))
    return tuple((_php_array_key(off), name) for off, name in items)


def validate_header(names: list) -> None:
    """Reference header validation (Parser.php:118-119): strings only, then
    uniqueness — also re-run against *extracted* headers (Parser.php:482)."""
    if any(not isinstance(n, str) for n in names):
        raise ParserError(MSG_NON_STRING_HEADER)
    if len(set(names)) != len(names):
        raise ParserError.due_to_duplicate_header_column_names(names)
