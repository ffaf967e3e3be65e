"""Chunking never changes output: a Spark-free property over the mega-doc
splitter.

Documents wrap small tables in a ``div``/``b``/``span``/``font`` element,
scatter stray end tags (``</table>`` too) and table markup hidden in tags
in cells and between tables, and may end cut off inside a tag. Parsing the
``split_html`` pieces, each table ordinal shifted by its piece's base,
must give exactly what parsing the whole document gives. It holds because
the tokenizer applies libxml2's end-tag priority: no end tag below
``</table>`` can close an element across a table boundary, so what wraps a
table (and so what a cut drops) cannot change how the table parses.
"""

from __future__ import annotations

import dataclasses

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from html_table_spark.config import ParserConfig
from html_table_spark.htmldom import parse_html
from html_table_spark.operators.extract import split_html
from html_table_spark.semantics import _top_level_tables, parse_document
from tests.test_htmldom import _token

_STRAY = st.sampled_from([
    "", "", "</div>", "</b>", "</span>", "</tr>", "</p>", "<!x ", "<!-- c --!>", "<!-- d -->",
    # a stray </table>, table markup hidden in a tag's attribute or end tag
    "</table>", '<b data-x="</table>x<table>">', "</i x<table>",
])
_CELL_ATTRS = st.sampled_from(["", "", ' data-x="</table>x<table>"', " foo=</table>"])
_CELL = st.tuples(_CELL_ATTRS, _STRAY, st.sampled_from(["a", "b c", "&amp;", "i<j"]))
_ROW = st.lists(_CELL, min_size=1, max_size=3)
_TABLE = st.tuples(_STRAY, st.lists(_ROW, min_size=1, max_size=2))
# a document cut off by end of input inside a tag or comment
_TAIL = st.sampled_from([
    "", "", "<table><tr><td>a</td><td colspan=2", '<table><tr><td>a<img src="x',
    "<table><tr><td<b>y", "<table><tr><td>a<!-- x",
])


@st.composite
def _documents(draw):
    wrapper = draw(st.sampled_from(["div", "b", "span", "font"]))
    parts = []
    for t, (between, rows) in enumerate(draw(st.lists(_TABLE, min_size=2, max_size=40))):
        body = "".join(
            "<tr>"
            + "".join(f"<td{attrs}>t{t}{stray}{text}</td>" for attrs, stray, text in row)
            + "</tr>"
            for row in rows
        )
        parts.append(f"{between}<table>{body}</table>")
    return f"<{wrapper}>" + "".join(parts) + f"</{wrapper}>" + draw(_TAIL)


def _parse_split(html: str, tables_per_chunk: int, config: ParserConfig):
    out = []
    for base, chunk in split_html(html, tables_per_chunk):
        out += [
            dataclasses.replace(t, table_idx=t.table_idx + base)
            for t in parse_document(chunk, config)
        ]
    return out


@settings(max_examples=60, deadline=None)
@given(html=_documents())
@pytest.mark.parametrize("tables_per_chunk", [1, 3, 8])
def test_split_parse_equals_whole_parse(tables_per_chunk, html):
    config = ParserConfig().all_tables()
    whole = parse_document(html, config)
    assert _parse_split(html, tables_per_chunk, config) == whole
    # every document splits: no shape makes the splitter give up
    assert len(split_html(html, tables_per_chunk)) == max(1, -(-len(whole) // tables_per_chunk))


def test_split_html_pieces():
    t = "<table><tr><td>x</td></tr></table>"
    html = "<div>" + t * 5 + "</div>"
    pieces = split_html(html, 2)
    assert [b for b, _ in pieces] == [0, 2, 4]
    assert [p for _, p in pieces] == [t * 2, t * 2, t]
    # few tables: the whole document
    assert split_html(html, 5) == [(0, html)]
    # a stray top-level </table> is ignored, as the tree builder ignores it
    assert split_html("</table>" + t * 3, 1) == [(0, t), (1, t), (2, t)]
    assert split_html("", 1) == [(0, "")]


@settings(max_examples=300, deadline=None)
@given(tokens=st.lists(_token(), max_size=30))
def test_split_follows_the_tokenizer_on_soup(tokens):
    """Over the tokenizer differential's tag soup, one table per piece:
    the pieces are the tokenizer's own top-level tables, and parsing them
    gives what parsing the whole document gives."""
    html = "".join(tokens)
    tables = len(_top_level_tables(parse_html(html)[0]))
    assert len(split_html(html, 1)) == max(tables, 1)
    config = ParserConfig().all_tables()
    assert _parse_split(html, 1, config) == parse_document(html, config)
