"""Property-based tests (hypothesis): the extraction over libxml2's
selected subtrees agrees with the extraction over its whole tree on
arbitrary tables, and the grid resolver maintains its structural
invariants."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from html_table_spark.config import ParserConfig
from html_table_spark.semantics import parse_document
from tests.test_htmldom import assert_same_extraction

_cell_text = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=0x2FF),
    min_size=0,
    max_size=8,
)
_span_attr = st.one_of(
    st.none(),
    st.integers(min_value=-2, max_value=4).map(str),
    st.just("1001"),
    st.just("3x"),
    st.just(""),
)
_ws = st.sampled_from(["", " ", "\n", "\n    ", "\t"])


@st.composite
def table_html(draw) -> str:
    n_rows = draw(st.integers(min_value=0, max_value=5))
    parts = ["<table>"]
    use_tbody = draw(st.booleans())
    if use_tbody:
        parts.append("<tbody>")
    for _ in range(n_rows):
        parts.append(draw(_ws))
        parts.append("<tr>")
        for _ in range(draw(st.integers(min_value=0, max_value=4))):
            parts.append(draw(_ws))
            tag = draw(st.sampled_from(["td", "th"]))
            attrs = ""
            colspan = draw(_span_attr)
            rowspan = draw(_span_attr)
            if colspan is not None:
                attrs += f' colspan="{colspan}"'
            if rowspan is not None:
                attrs += f' rowspan="{rowspan}"'
            text = draw(_cell_text)
            parts.append(f"<{tag}{attrs}>{text}</{tag}>")
        parts.append(draw(_ws))
        parts.append("</tr>")
    if use_tbody:
        parts.append("</tbody>")
    parts.append("</table>")
    return "".join(parts)


@given(table_html())
@settings(max_examples=150, deadline=None)
def test_tokenizers_agree(html: str):
    assert_same_extraction(html, ParserConfig())
    assert_same_extraction(html, ParserConfig().all_tables())


@given(table_html())
@settings(max_examples=150, deadline=None)
def test_grid_invariants(html: str):
    results = parse_document(html, ParserConfig())
    assert len(results) == 1
    t = results[0]
    assert t.status == "ok" or t.error_msg
    if t.status != "ok":
        return
    # spans clamp to [2,1000]: no row can exceed (cells+carries) * 1000
    for row in t.rows:
        assert len(row) <= 5 * 1000
    # grid expansion never invents text: every emitted cell text appears in
    # the source (entity-free corpus by construction)
    for row in t.rows:
        for cell in row:
            if cell is not None and cell.text:
                assert cell.text in html
    # determinism
    again = parse_document(html, ParserConfig())[0]
    assert again.row_texts() == t.row_texts()
    assert again.header == t.header


@given(table_html(), table_html())
@settings(max_examples=50, deadline=None)
def test_select_all_is_per_table_stable(html_a: str, html_b: str):
    """Extracting a two-table doc in select-all mode equals extracting each
    table alone (tables are independent extraction units)."""
    combined = parse_document(html_a + "\n" + html_b, ParserConfig().all_tables())
    alone_a = parse_document(html_a, ParserConfig().all_tables())
    alone_b = parse_document(html_b, ParserConfig().all_tables())
    assert len(combined) == len(alone_a) + len(alone_b)
    for got, exp in zip(combined, alone_a + alone_b):
        assert got.row_texts() == exp.row_texts()
        assert got.header == exp.header
        assert got.status == exp.status
