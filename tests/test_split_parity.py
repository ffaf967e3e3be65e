"""Chunking never changes output: a Spark-free property over the mega-doc
splitter.

Documents wrap small tables in a ``div``/``b``/``span``/``font`` element
and scatter stray end tags in cells and between tables. Parsing the
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
from html_table_spark.operators.extract import split_html
from html_table_spark.semantics import parse_document

_STRAY = st.sampled_from(
    ["", "", "</div>", "</b>", "</span>", "</tr>", "</p>", "<!x ", "<!-- c --!>", "<!-- d -->"]
)
_CELL = st.tuples(_STRAY, st.sampled_from(["a", "b c", "&amp;"]))
_ROW = st.lists(_CELL, min_size=1, max_size=3)
_TABLE = st.tuples(_STRAY, st.lists(_ROW, min_size=1, max_size=2))


@st.composite
def _documents(draw):
    wrapper = draw(st.sampled_from(["div", "b", "span", "font"]))
    parts = []
    for t, (between, rows) in enumerate(draw(st.lists(_TABLE, min_size=2, max_size=40))):
        body = "".join(
            "<tr>" + "".join(f"<td>t{t}{stray}{text}</td>" for stray, text in row) + "</tr>"
            for row in rows
        )
        parts.append(f"{between}<table>{body}</table>")
    return f"<{wrapper}>" + "".join(parts) + f"</{wrapper}>"


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
    assert _parse_split(html, tables_per_chunk, config) == parse_document(html, config)


def test_split_html_pieces():
    t = "<table><tr><td>x</td></tr></table>"
    html = "<div>" + t * 5 + "</div>"
    pieces = split_html(html, 2)
    assert [b for b, _ in pieces] == [0, 2, 4]
    assert [p for _, p in pieces] == [t * 2, t * 2, t]
    # few tables, or a scan that cannot split: the whole document
    assert split_html(html, 5) == [(0, html)]
    assert split_html("</table>" + t * 3, 1) == [(0, "</table>" + t * 3)]
    assert split_html("", 1) == [(0, "")]
