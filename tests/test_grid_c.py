"""The compiled grid (``_tree.c``'s ``table()``, behind
``semantics.parse_document``) against the Python grid it replaced
(``tests/grid_oracle.py``), Spark-free: the same results on generated
tables, on every fixture and on every table of both benchmark corpora, and
no leaked references."""

from __future__ import annotations

import gc
import sys
import tracemalloc

import pytest
from hypothesis import given, settings

from html_table_spark import libxml2
from html_table_spark.config import TBODY, TR, ParserConfig
from html_table_spark.fixtures import CLAMP_HTML, FIXTURES, f14_mega_doc_html
from html_table_spark.semantics import TOP_LEVEL_TABLES, parse_document
from html_table_spark.spans import doc_spans_to_html
from tests import grid_oracle
from tests.test_property_grid import table_html

# header precedence, sections, header rows and media: every input table()
# takes, in the combinations the fixtures do not reach
CONFIGS = {
    "default": ParserConfig(),
    "all": ParserConfig().all_tables(),
    "tr_header": ParserConfig().all_tables().include_all_sections().table_header_position(TR, 1),
    "tbody_header": ParserConfig().all_tables().table_header_position(TBODY, 0),
    "ignore_no_media": ParserConfig(emit_media_spans=False).all_tables().ignore_header(),
    "user_header": ParserConfig().all_tables().with_table_header({3: "d", 0: "a", 7: "z"}),
    "thead_only": ParserConfig().all_tables().exclude_all_sections().include_section("thead"),
}


def assert_grids_agree(html: str, config: ParserConfig) -> None:
    assert parse_document(html, config) == grid_oracle.parse_document(html, config), html[:300]


@given(table_html())
@settings(max_examples=150, deadline=None)
def test_generated_tables_match_the_oracle(html: str):
    for config in CONFIGS.values():
        assert_grids_agree(html, config)


def test_fixtures_match_the_oracle():
    """F01-F15 under their own configs (positions, ids, user headers,
    sections, captions, errors) and under every config above."""
    docs = {name: html for name, (html, _) in FIXTURES.items()}
    docs.update(clamp=CLAMP_HTML, f14=f14_mega_doc_html(30))
    for html, config in FIXTURES.values():
        assert_grids_agree(html, config)
    for html in docs.values():
        for config in CONFIGS.values():
            assert_grids_agree(html, config)


@pytest.mark.parametrize("workload, n_tables", [("bulk", 13_373), ("skew", 13_016)])
def test_benchmark_corpora_match_the_oracle(workload: str, n_tables: int):
    """Every table of the benchmark's seed-1 corpus, all-tables mode."""
    from perfbench.corpus import documents

    config = ParserConfig().all_tables()
    seen = 0
    for doc in documents(workload, 1):
        html = doc_spans_to_html(doc["spans"])
        ours = parse_document(html, config)
        assert ours == grid_oracle.parse_document(html, config), doc["doc_id"]
        seen += len(ours)
    assert seen == n_tables


LEAK_HTML = (
    '<table id="t"><caption>cap <b>x</b></caption>'
    '<thead><tr><th colspan="2">h1</th><th>h2</th></tr></thead>'
    '<tr><td rowspan="3" colspan="2">a<img data-media-ref="m1"><!-- c --></td><td>b</td></tr>'
    "<tr><td>c</td></tr><tbody><tr><td rowspan=2>d<video data-media-ref=v></video></td></tr></tbody>"
    "</table>"
)


def test_table_does_not_leak():
    """20,000 ``table()`` calls over a table with every kind of carry,
    projection, media and caption, each result dropped, grow traced memory
    by under 1 MB and leave the reference count of the Cell class (one per
    live Cell) where it was."""
    calls = [(TBODY, 0, True), ("thead", 0, True), (None, 0, False)]
    sections = ParserConfig().include_all_sections().included_sections
    with libxml2.document(LEAK_HTML) as doc:
        [table] = libxml2.query(doc, TOP_LEVEL_TABLES)
        assert libxml2.table(table, "thead", 0, sections, True)[1] == ["h1", "h1", "h2"]
        for section, offset, media in calls * 100:
            libxml2.table(table, section, offset, sections, media)
        gc.collect()
        refs = sys.getrefcount(grid_oracle.Cell)
        tracemalloc.start()
        try:
            before = tracemalloc.get_traced_memory()[0]
            for i in range(20_000):
                section, offset, media = calls[i % len(calls)]
                libxml2.table(table, section, offset, sections, media)
            gc.collect()
            grown = tracemalloc.get_traced_memory()[0] - before
        finally:
            tracemalloc.stop()
    # read outside the assert, whose rewriting holds its operands
    refs_after = sys.getrefcount(grid_oracle.Cell)
    assert grown < 1_000_000, grown
    assert refs_after == refs



# PHP (int) casts: prefixes, signs, whitespace, float forms, overflow,
# non-ASCII digits, hex and underscores (neither of which PHP reads)
SPAN_VALUES = [
    "", "3x", "  42abc", "\t\v 7", "-7", "- 5", "+5", "00002", "0", "-0", "nope",
    "1e3", "3e0", "3E+0", "30e-1", "29e-1", "1e-999", "12.9", "2.5", "5.", "5.e3", "1.5e", ".5", "+.5",
    "1000", "1000.5", "1000.9999999999999999", "1001", "9" * 30, "1" + "0" * 400, "5e999", "-5e999",
    "²", "٣", "2e٣", "0x1A", "1_000",
]


@pytest.mark.parametrize("attr", ["colspan", "rowspan"])
def test_span_casts_match_the_oracle(attr: str):
    for value in SPAN_VALUES:
        html = f'<table><tr><td {attr}="{value}">x</td><td>y</td></tr>' + "<tr><td>z</td></tr>" * 3 + "</table>"
        assert_grids_agree(html, ParserConfig())
