"""Golden fixture tests F01–F15: the kernel vs hand-derived expectations.

Every expected value below is transcribed BY HAND from the reference's
PHPUnit assertions (/root/reference/src/ParserTest.php) — they are the
specification, independent of the kernel's implementation.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from html_table_spark import libxml2
from html_table_spark.config import ALL_SECTIONS, TBODY, TFOOT, THEAD, TR, ParserConfig
from html_table_spark.errors import ParserError
from html_table_spark.fixtures import (
    CLAMP_HTML,
    F01_HTML,
    F03_HTML,
    F04_HTML,
    F05_HTML,
    F06_HTML,
    F07_HTML,
    F08_HTML,
    F09_NO_CAPTION,
    F09_TWO_CAPTIONS,
    F09_WITH_CAPTION,
    F10_JUNK,
    F10_MALFORMED,
    F10_NO_TABLE,
    F10_P_ONLY,
    F11A_HTML,
    F11B_HTML,
    F13_HTML,
    F15_HTML,
    FILE_HTML,
    f14_mega_doc_html,
)
from html_table_spark.htmldom import ELEMENT, Node
from html_table_spark.semantics import parse_document
from html_table_spark.spans import encode_table_spans
from tests import grid_oracle
from tests.test_htmldom import _token

HEADER = ["prenoms", "nombre", "sexe", "annee"]
ROW1 = ["Abdoulaye", "15", "M", "2004"]


def one(html, config):
    results = parse_document(html, config)
    assert len(results) == 1
    return results[0]


# --- F01: default first-table selection, thead header (ParserTest.php:143-160)


def test_f01_default_first_table():
    t = one(F01_HTML, ParserConfig())
    assert t.status == "ok"
    assert t.header == HEADER
    assert t.n_rows == 4  # thead excluded from data (Parser.php:61)
    assert t.row_texts()[0] == ROW1
    assert t.row_texts()[3] == ["Aboubacar", "8", "M", "2004"]
    assert t.caption is None


def test_f01_ignore_header():
    # ParserTest.php:163-175
    t = one(F01_HTML, ParserConfig().ignore_header())
    assert t.header == []
    assert t.n_rows == 4
    assert t.row_texts()[0] == ROW1


def test_f01_user_header():
    # ParserTest.php:276-290
    t = one(F01_HTML, ParserConfig().with_table_header(["firstname", "count", "gender", "year"]))
    assert t.header == ["firstname", "count", "gender", "year"]
    assert t.row_texts()[0] == ROW1


# --- F02: second table / by id / Section::Tr header (ParserTest.php:178-219)


def test_f02a_by_position():
    t = one(FILE_HTML, ParserConfig().table_position(1))
    assert t.header == []
    assert t.n_rows == 6  # no thead → all trs are data


def test_f02b_by_id():
    t = one(FILE_HTML, ParserConfig().table_position("testb"))
    assert t.header == []
    assert t.n_rows == 6


def test_f02c_tr_header():
    t = one(FILE_HTML, ParserConfig().table_position("testb").table_header_position(TR))
    assert t.header == HEADER
    assert t.n_rows == 5  # header row excluded via marker (Parser.php:524)
    assert t.row_texts()[0] == ROW1


# --- F03: tbody-first-row header (ParserTest.php:230-257)


def test_f03_tbody_header():
    t = one(F03_HTML, ParserConfig().table_header_position(TBODY))
    assert t.header == HEADER
    assert t.n_rows == 5
    assert t.row_texts()[0] == ROW1


# --- F04: colspan duplication (ParserTest.php:334-352)


def test_f04_colspan_duplication():
    t = one(F04_HTML, ParserConfig())
    assert t.header == []  # no thead
    assert t.row_texts()[1] == ["Abdoulaye", "Abdoulaye", "Abdoulaye", "2004"]
    assert t.row_texts()[0] == HEADER  # th row is DATA without a thead


# --- F05: rowspan+colspan grid (ParserTest.php:494-549)


def test_f05_grid():
    t = one(F05_HTML, ParserConfig())
    assert t.header == ["Col 1", "Col 2", "Col 3", "Col 4", "Col 5"]
    rows = t.row_texts()
    assert rows == [
        ["Col 1", "colspan", "colspan", "Col 4", "Col 5"],
        ["Col 1", "Col 2", "colspan+rowspan", "colspan+rowspan", "colspan+rowspan"],
        ["Col 1", "Col 2", "colspan+rowspan", "colspan+rowspan", "colspan+rowspan"],
        ["Col 1", "rowspan", "Col 3", "Col 4", "Col 5"],
        ["Col 1", "rowspan", "Col 3", "Col 4", "Col 5"],
    ]
    # the reference's reduce() assertions (ParserTest.php:546-548)
    flat = [c for row in rows for c in row]
    assert flat.count("colspan") == 2
    assert flat.count("rowspan") == 2
    assert flat.count("colspan+rowspan") == 6


# --- F06: empty thead (ParserTest.php:354-378)


def test_f06_empty_thead():
    t = one(F06_HTML, ParserConfig())
    assert t.header == []
    assert t.row_texts()[0] == ["Abdoulaye", "Abdoulaye", "Abdoulaye", "2004"]
    assert t.row_texts()[1] == ["Abel", "14", "M", "2004"]


# --- F07: excludeSection → zero rows (ParserTest.php:441-462)


def test_f07_exclude_tfoot():
    t = one(F07_HTML, ParserConfig().exclude_section(TFOOT))
    assert t.header == []
    assert t.n_rows == 0


# --- F08: sparse header reorder/skip (ParserTest.php:293-331)


def test_f08_reorder():
    cfg = ParserConfig().with_table_header({3: "Annee", 2: "Sexe", 0: "Firstname", 1: "Count"})
    t = one(F08_HTML, cfg)
    assert t.header == ["Annee", "Sexe", "Firstname", "Count"]
    assert t.row_texts()[0] == ["2004", "M", "Abel", "14"]


def test_f08_skip_column():
    cfg = ParserConfig().with_table_header({3: "Annee", 0: "Firstname", 1: "Count"})
    t = one(F08_HTML, cfg)
    assert t.header == ["Annee", "Firstname", "Count"]
    assert t.row_texts()[0] == ["2004", "Abel", "14"]


def test_f08_null_fill_missing_offset():
    # combineArray fills null for missing offsets (Parser.php:619)
    cfg = ParserConfig().with_table_header({9: "Missing", 0: "Firstname"})
    t = one(F08_HTML, cfg)
    assert t.row_texts()[0] == [None, "Abel"]


# --- F09: caption variants (ParserTest.php:551-586)


@pytest.mark.parametrize(
    ("html", "default", "expected"),
    [
        (F09_NO_CAPTION, None, None),
        (F09_WITH_CAPTION, None, "this is the table title"),
        (F09_NO_CAPTION, "this is the table title", "this is the table title"),
        (F09_TWO_CAPTIONS, None, "first caption"),
    ],
)
def test_f09_captions(html, default, expected):
    t = one(html, ParserConfig().with_caption(default))
    assert t.caption == expected


# --- F10: error classification (ParserTest.php:131-140, 260-273, 380-392)


def test_f10_junk():
    t = one(F10_JUNK, ParserConfig())
    assert t.status == "error"
    assert t.error_msg == "The HTML table could not be found in the submitted html."
    assert encode_table_spans(t) == []


def test_f10_no_table():
    t = one(F10_NO_TABLE, ParserConfig())
    assert t.status == "error"
    assert t.error_msg == "The HTML table could not be found in the submitted html."


def test_f10_non_table_xpath():
    t = one(F10_P_ONLY, ParserConfig().table_xpath_position("//p"))
    assert t.status == "error"
    assert t.error_msg == "Expected a table element to be selected; received `p` instead."


def test_f10_fail_on_xml_errors():
    t = one(F10_MALFORMED, ParserConfig().fail_on_errors())
    assert t.status == "error"


def test_f10_malformed_tolerated_by_default():
    t = one(F10_MALFORMED, ParserConfig())
    assert t.status == "error"  # tolerant parse, but no table → not-found
    assert t.error_msg == "The HTML table could not be found in the submitted html."


# --- config-time validation errors (driver-side, reference eager throws)


def test_duplicate_user_header_raises():
    # ParserTest.php:66-73
    with pytest.raises(ParserError) as err:
        ParserConfig().with_table_header(["foo", "foo", "toto", "toto", "baz"])
    assert str(err.value) == "The header record contains duplicate column names: `foo`, `toto`."
    assert err.value.duplicate_column_names == ["foo", "toto"]


def test_non_string_user_header_raises():
    with pytest.raises(ParserError):
        ParserConfig().with_table_header(["foo", 1])


def test_whitespace_id_raises():
    for bad in ("foo bar",):
        with pytest.raises(ParserError):
            ParserConfig().table_position(bad)


def test_negative_position_raises():
    with pytest.raises(ParserError):
        ParserConfig().table_position(-1)


def test_negative_header_offset_raises():
    with pytest.raises(ParserError):
        ParserConfig().table_header_position(TBODY, -1)


def test_invalid_xpath_raises():
    with pytest.raises(ParserError) as err:
        ParserConfig().table_xpath_position("//table@@invalid")
    assert "invalid" in str(err.value)


def test_builder_noop_identity():
    # reference: unchanged config returns the same instance (Parser.php:69-70)
    cfg = ParserConfig()
    assert cfg.table_position(0) is cfg
    assert cfg.table_xpath_position("(//table)[1]") is cfg


# --- F11: non-tr garbage in sections (ParserTest.php:402-439)


def test_f11a_no_header_in_tbody():
    t = one(F11A_HTML, ParserConfig().table_header_position(TBODY))
    assert t.header == []


def test_f11b_no_header_in_any_section():
    t = one(F11B_HTML, ParserConfig().table_header_position(TR))
    assert t.header == []
    assert t.n_rows == 0  # sections contain only <p>


# --- F13: media interleaving (graft extension, FIXTURES.md)


def test_f13_media_spans():
    t = one(F13_HTML, ParserConfig())
    assert t.header == HEADER
    # cell text is unchanged vs the no-media variant (nodeValue drops tags)
    assert t.row_texts()[0] == ROW1
    assert t.rows[0][0].media == ("m1",)
    assert t.rows[1][2].media == ("m2",)
    # object's inner text DOES contribute to nodeValue
    assert t.rows[1][2].text == "portraitM"
    spans = encode_table_spans(t)
    kinds = [(s["kind"], s["media_ref"]) for s in spans]
    # header spans, then cell,media,cell,cell,cell, cell,cell,cell,media,...
    assert kinds[:4] == [("header", None)] * 4
    assert kinds[4] == ("cell", None)
    assert kinds[5] == ("media", "m1")
    media_positions = [i for i, (k, _) in enumerate(kinds) if k == "media"]
    assert len(media_positions) == 2
    # offsets are the dense 0..n-1 sequence
    assert [s["offset"] for s in spans] == list(range(len(spans)))


# --- F14: mega-doc select-all mode


def test_f14_select_all_tables():
    html = f14_mega_doc_html(25)
    results = parse_document(html, ParserConfig().all_tables())
    assert len(results) == 25
    assert [t.table_idx for t in results] == list(range(25))
    for t in results:
        assert t.header == HEADER
        assert t.n_rows == 4


def test_select_all_no_tables():
    assert parse_document("<p>nothing</p>", ParserConfig().all_tables()) == []


def test_nested_table_not_a_unit():
    html = "<table id='outer'><tr><td><table id='inner'><tr><td>x</td></tr></table>y</td></tr></table>"
    results = parse_document(html, ParserConfig().all_tables())
    assert len(results) == 1  # inner table is part of the outer cell's text
    assert results[0].row_texts() == [["xy"]]


# --- F15: duplicate extracted header → status='error' (Parser.php:482)


def test_f15_duplicate_extracted_header():
    t = one(F15_HTML, ParserConfig())
    assert t.status == "error"
    assert t.error_msg == "The header record contains duplicate column names: `x`."


# --- span clamping (Parser.php:549-556) + PHP int-cast prefix parse


def test_clamp_variants():
    t = one(CLAMP_HTML, ParserConfig())
    rows = t.row_texts()
    # colspan=0 → 1; colspan=1001 → 1; rowspan=0 → 1 (no carry); "3x" → 3
    assert rows[0] == ["a", "b", "c", "d", "d", "d"]
    assert rows[1] == ["e"]  # rowspan=0 did NOT carry into row 2


def test_span_of_non_ascii_digits_is_one():
    # PHP's (int) reads ASCII digits only: (int)"²" and (int)"٣" are 0, so
    # each cell is emitted once (str.isdigit() holds for both; int("²")
    # raises)
    for digit in ("²", "٣"):
        html = f'<table><tr><td colspan="{digit}">a</td><td rowspan="{digit}">b</td></tr><tr></tr></table>'
        assert one(html, ParserConfig()).row_texts() == [["a", "b"], []]


# --- header trim charset (Parser.php:539): NBSP trimmed in header only


def test_header_nbsp_trim():
    html = (
        "<table><thead><tr><th>  name  </th><th>\tval\n</th></tr></thead>"
        "<tbody><tr><td>  keep  </td><td> raw </td></tr></tbody></table>"
    )
    t = one(html, ParserConfig())
    assert t.header == ["name", "val"]
    # data cells are NOT normalized (raw nodeValue, Parser.php:568)
    assert t.row_texts()[0] == ["  keep  ", " raw "]


# --- nested-table quirk: caption/header can come from a NESTED table
#     (re-rooted XPath scope, Parser.php:375/:389/:60 — SURVEY.md §2.2)


def test_nested_table_caption_quirk():
    html = (
        "<table id='outer'><tr><td>"
        "<table id='inner'><caption>inner cap</caption><tr><td>x</td></tr></table>"
        "</td></tr></table>"
    )
    t = one(html, ParserConfig())
    assert t.caption == "inner cap"


def test_nested_table_thead_quirk():
    html = (
        "<table id='outer'><tr><td>"
        "<table id='inner'><thead><tr><th>H</th></tr></thead></table>"
        "</td></tr></table>"
    )
    t = one(html, ParserConfig())
    # outer has no thead; (//table/thead/tr)[1] matches the nested one
    assert t.header == ["H"]


def test_nested_table_thead_document_order():
    """A nested table's thead that comes before the outer table's own thead
    in document order is the first match of (//table/thead/tr)[n]: offset 0
    picks the inner row, offset 1 the outer one."""
    html = (
        "<table id='outer'><tr><td>"
        "<table id='inner'><thead><tr><th>inner</th></tr></thead></table>"
        "</td></tr><thead><tr><th>outer</th></tr></thead></table>"
    )
    assert one(html, ParserConfig().table_header_position(THEAD, 0)).header == ["inner"]
    assert one(html, ParserConfig().table_header_position(THEAD, 1)).header == ["outer"]
    assert one(html, ParserConfig().table_header_position(THEAD, 2)).header == []


def test_thead_inside_a_cell_is_no_header_section():
    """(//table/thead/tr) needs the thead to be a CHILD of a table: a thead
    the tree builder nests inside a cell gives no header, and its row is
    body data of the cell."""
    html = (
        "<table><tr><td><div><thead><tr><th>H</th></tr></thead></div></td></tr>"
        "<tr><td>x</td></tr></table>"
    )
    t = one(html, ParserConfig())
    assert t.header == []
    assert t.row_texts() == [["H"], ["x"]]


# --- the header-row/caption walk against the reference's own XPaths
#     (Section::xpathRow, Section.php:19-28; (//caption)[1], Parser.php:389)


# tag soup (tests.test_htmldom._token) inside and around table-shaped
# markup, so captions, sections, rows and nested tables occur often enough
# to reach every branch of the walk
_soup = st.lists(_token(), max_size=3).map("".join)


def _element(tag, content):
    return content.map(lambda c: f"<{tag}>{c}</{tag}>")


def _tables(inner):
    cell = st.sampled_from(["td", "th"]).flatmap(
        lambda tag: _element(tag, st.one_of(_soup, inner))
    )
    row = _element("tr", st.lists(cell, max_size=3).map("".join))
    rows = st.lists(row, max_size=3).map("".join)
    section = st.one_of(rows, *(_element(s, rows) for s in ("thead", "tbody", "tfoot")))
    part = st.one_of(section, _soup, st.just("<caption>c</caption>"))
    return _element("table", st.lists(part, max_size=4).map("".join))


_table_soup = st.recursive(st.just(""), _tables, max_leaves=8)


@settings(max_examples=300, deadline=None)
@given(parts=st.lists(st.one_of(_table_soup, _token()), max_size=6))
def test_header_row_and_caption_walk_equals_xpath(parts):
    """The oracle's walk over each converted table finds the node libxml2's
    XPath finds over the document: the same ordinal among the table's ``tr``
    (or ``caption``) descendants. The compiled grid reads the caption and
    header row the walk finds."""
    with libxml2.document("".join(parts)) as doc:
        for k, table_p in enumerate(libxml2.query(doc, grid_oracle.TOP_LEVEL_TABLES), 1):
            table = Node(ELEMENT, tag="table")
            table.children = libxml2._tree.children(table_p)
            top = f"({grid_oracle.TOP_LEVEL_TABLES})[{k}]"

            def ordinal(expr: str, tag: str):
                hits = libxml2.query(doc, expr)
                nodes = libxml2.query(doc, f"{top}//{tag}")
                return nodes.index(hits[0]) if hits else None

            def walk_ordinal(node, tag: str):
                nodes = [n for n in grid_oracle.iter_elements(table) if n.tag == tag]
                return next((i for i, n in enumerate(nodes) if n is node), None)

            def compiled(section, offset):
                caption, header, _ = libxml2.table(table_p, section, offset, ALL_SECTIONS)
                return caption, header

            caption = ordinal(f"({top}//caption)[1]", "caption")
            _, cap = grid_oracle.header_row_and_caption(table, None, 0)
            assert walk_ordinal(cap, "caption") == caption
            cap_text = cap.text_content() if cap is not None else None
            assert compiled(None, 0) == (cap_text, [])
            for section in ALL_SECTIONS:
                parent = "table" if section == TR else f"table/{section}"
                for offset in range(4):
                    row, cap = grid_oracle.header_row_and_caption(table, section, offset)
                    expr = f"({top}/descendant-or-self::{parent}/tr)[{offset + 1}]"
                    assert walk_ordinal(row, "tr") == ordinal(expr, "tr")
                    assert walk_ordinal(cap, "caption") == caption
                    header = [c.text for c in grid_oracle.extract_record(row, {})] if row else []
                    assert compiled(section, offset) == (cap_text, header)


# --- rowspan carry drops pending entries past the single trailing splice
#     (Parser.php:577-584, SURVEY.md §2.5 rule 4)


def test_trailing_splice_single_index():
    html = (
        "<table>"
        "<tr><td>a</td><td rowspan='2'>b</td><td rowspan='2'>c</td></tr>"
        "<tr><td>d</td></tr>"
        "<tr><td>e</td><td>f</td></tr>"
        "</table>"
    )
    # row 2 (<tr><td>d</td></tr>): children = [td]; index 0 → no pending@0;
    # trailing index 1 → splice 'b'. pending 'c' at index 2 stays QUEUED.
    # row 3: children td,td at 0,1; no pending@0/@1; trailing index 2 →
    # splice 'c' (one row late — the reference's quirk, reproduced).
    t = one(html, ParserConfig())
    assert t.row_texts() == [["a", "b", "c"], ["d", "b"], ["e", "f", "c"]]


def test_comment_shifts_carry_index():
    # comments are childNodes: they shift the DOM child index used as the
    # rowspan carry key (Parser.php:559)
    html = (
        "<table>"
        "<tr><td rowspan='2'>a</td><td>b</td></tr>"
        "<tr><!-- note --><td>c</td></tr>"
        "</table>"
    )
    # row1: td(a)@0 → pending[0]; row2: comment@0 consumes the splice point
    # BEFORE the td; pending spliced at index 0 → 'a' then 'c'.
    t = one(html, ParserConfig())
    assert t.row_texts() == [["a", "b"], ["a", "c"]]


def test_block_expansion_colspan_rowspan():
    # colspan=3 rowspan=2 → 6 copies total (ParserTest.php:544-548)
    html = (
        "<table>"
        "<tr><td colspan='3' rowspan='2'>X</td></tr>"
        "<tr></tr>"
        "</table>"
    )
    t = one(html, ParserConfig())
    # empty tr: $index ??= -2; ++$index → checks index -1, never present...
    # pending for row 2 is keyed at the td's child index 0; empty tr checks
    # -1 only → the carry is NOT spliced into the empty row.
    assert t.row_texts() == [["X", "X", "X"], []]


def test_block_expansion_with_following_cell():
    html = (
        "<table>"
        "<tr><td colspan='3' rowspan='2'>X</td><td>y</td></tr>"
        "<tr><td>z</td></tr>"
        "</table>"
    )
    # row2: td(z)@0 — pending@0 spliced BEFORE the cell → X,X,X,z
    t = one(html, ParserConfig())
    assert t.row_texts() == [["X", "X", "X", "y"], ["X", "X", "X", "z"]]
