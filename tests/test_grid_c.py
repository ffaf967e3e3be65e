"""The compiled grid (``_tree.c``'s ``table()``, behind
``semantics.parse_document``) against the Python grid it replaced
(``tests/grid_oracle.py``), and the Arrow operator's output, which
``_tree.c``'s ``Builder`` encodes, against the same rows built in Python
(``parse_document`` + ``spans.encode_table_flat``), Spark-free: the same
results on generated tables, on every fixture and on every table of both
benchmark corpora, the same top-level tables as XPath selects, and no
leaked references or buffers."""

from __future__ import annotations

import gc
import sys
import tracemalloc

import pyarrow as pa
import pytest
from hypothesis import given, settings

from html_table_spark import libxml2
from html_table_spark.config import TBODY, TR, ParserConfig
from html_table_spark.fixtures import CLAMP_HTML, FIXTURES, f14_mega_doc_html
from html_table_spark.operators import extract
from html_table_spark.semantics import ExtractedTable, extract_document, parse_document
from html_table_spark.spans import doc_spans_to_html, encode_table_flat
from tests import grid_oracle
from tests.test_property_grid import table_html

# header precedence, sections, header rows and media: every input table()
# takes, in the combinations the fixtures do not reach
CONFIGS = {
    "default": ParserConfig(),
    "all": ParserConfig().all_tables(),
    "tr_header": ParserConfig().all_tables().include_all_sections().table_header_position(TR, 1),
    "tbody_header": ParserConfig().all_tables().table_header_position(TBODY, 0),
    "ignore": ParserConfig().all_tables().ignore_header(),
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
    calls = [(TBODY, 0), ("thead", 0), (None, 0)]
    sections = ParserConfig().include_all_sections().included_sections
    with libxml2.document(LEAK_HTML) as doc:
        [table] = libxml2.query(doc, grid_oracle.TOP_LEVEL_TABLES)
        assert libxml2.table(table, "thead", 0, sections)[1] == ["h1", "h1", "h2"]
        for section, offset in calls * 100:
            libxml2.table(table, section, offset, sections)
        gc.collect()
        refs = sys.getrefcount(grid_oracle.Cell)
        tracemalloc.start()
        try:
            before = tracemalloc.get_traced_memory()[0]
            for i in range(20_000):
                section, offset = calls[i % len(calls)]
                libxml2.table(table, section, offset, sections)
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


# ---- the Arrow operator's output (Builder) against Python-built rows ------

COLUMNS = [f.name for f in extract._ARROW_OUT if f.name != "wall_ms"]


def python_batches(docs, config: ParserConfig) -> list[pa.RecordBatch]:
    """What ``make_arrow_extractor`` yields for ``docs`` ((doc_id, html)
    pairs), built in Python: ``parse_document``'s tables, each one's spans
    from ``encode_table_flat``, the completion marker of a table-less
    document in all-tables mode, and a batch whenever ``_FLUSH_ROWS`` rows
    or ``_FLUSH_BYTES`` of HTML are buffered after a document."""
    batches, rows, size = [], [], 0

    def flush():
        batches.append(pa.RecordBatch.from_pylist(rows, schema=extract._ARROW_OUT).select(COLUMNS))
        rows.clear()

    for doc_id, html in docs:
        tables = parse_document(html, config)
        for t in tables or ([ExtractedTable(table_idx=-1)] if config.select_all_tables else []):
            spans = ([], [], [], [])
            encode_table_flat(t, *spans)
            rows.append({
                "doc_id": doc_id, "table_idx": t.table_idx, "caption": t.caption, "header": t.header,
                "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in zip(*spans)],
                "row_lens": [len(r) for r in t.rows], "n_rows": t.n_rows, "n_cells": t.n_cells,
                "status": t.status, "error_msg": t.error_msg, "part_id": -1,
            })
        size += len(html)
        if len(rows) >= extract._FLUSH_ROWS or size >= extract._FLUSH_BYTES:
            flush()
            size = 0
    if rows:
        flush()
    return batches


def operator_batches(docs, config: ParserConfig) -> list[pa.RecordBatch]:
    """``make_arrow_extractor``'s batches for ``docs``, fed 1,024 to an input
    batch, each checked in full (offsets, UTF-8) as Arrow checks IPC input."""
    inputs = [
        pa.RecordBatch.from_pydict({
            "doc_id": pa.array([d for d, _ in docs[i : i + 1024]], pa.string()),
            "html": pa.array([h for _, h in docs[i : i + 1024]], pa.string()),
        })
        for i in range(0, len(docs), 1024)
    ]
    out = list(extract.make_arrow_extractor(config)(iter(inputs)))
    for batch in out:
        batch.validate(full=True)
    return [batch.select(COLUMNS) for batch in out]


def assert_operator_agrees(docs, config: ParserConfig) -> int:
    ours, theirs = operator_batches(docs, config), python_batches(docs, config)
    assert [b.num_rows for b in ours] == [b.num_rows for b in theirs]
    for a, b in zip(ours, theirs):
        if not a.equals(b):
            diff = [(x, y) for x, y in zip(a.to_pylist(), b.to_pylist()) if x != y]
            raise AssertionError(f"first differing row: {diff[0]}")
    return sum(b.num_rows for b in ours)


@given(table_html())
@settings(max_examples=100, deadline=None)
def test_operator_matches_python_rows_on_generated_tables(html: str):
    docs = [("d0", html), (None, html), ("empty", "<p>no table</p>")]
    for config in CONFIGS.values():
        assert_operator_agrees(docs, config)


def test_operator_matches_python_rows_on_fixtures():
    """F01-F15 under their own configs (positions, ids, user headers,
    sections, captions, not found, not a table, parse errors, duplicate
    headers) and under every config above."""
    docs = [(name, html) for name, (html, _) in FIXTURES.items()]
    docs += [("clamp", CLAMP_HTML), ("f14", f14_mega_doc_html(30))]
    for doc in docs[: len(FIXTURES)]:
        assert_operator_agrees([doc], FIXTURES[doc[0]][1])
    for config in CONFIGS.values():
        assert_operator_agrees(docs, config)
        assert_operator_agrees(docs, config.fail_on_errors())


@pytest.mark.parametrize("workload, n_rows", [("bulk", 13_526), ("skew", 13_029)])
def test_operator_matches_python_rows_on_benchmark_corpora(workload: str, n_rows: int):
    """Every table of the benchmark's seed-1 corpus, all-tables mode (its
    13,373 and 13,016 tables plus the table-less documents' markers)."""
    from perfbench.corpus import documents

    docs = [(d["doc_id"], doc_spans_to_html(d["spans"])) for d in documents(workload, 1)]
    assert assert_operator_agrees(docs, ParserConfig().all_tables()) == n_rows


def test_builder_text_bytes_match_python_decoding():
    """Lone surrogates reach libxml2 as their ``surrogatepass`` bytes, which
    are not UTF-8 (Arrow input cannot hold them, a direct caller's str
    can): text, captions, headers, media refs and span casts carry what
    decoding each text node with ``replace`` gives, valid UTF-8."""
    html = (
        "<table><caption>c\ud800a<b>\udfff</b>p</caption>"
        "<thead><tr><th>h\udcff</th><th>\ud83d\ude00</th></tr></thead>"
        '<tr><td colspan="2\ud800">x\udc80<!-- -->\udc80y</td></tr>'
        '<tr><td><img data-media-ref="m\ud800\U0001F600">q\uffff\ud7ff</td><td>\udbff\udfff</td></tr>'
        "</table>"
    )
    docs = [("s", html), ("s\u00e9", html.replace("<thead>", '<thead><tr><th title="\ud800">x</th></tr>'))]
    for config in (ParserConfig().all_tables(), ParserConfig().ignore_header()):
        builder = libxml2.Builder()
        for doc_id, doc in docs:
            builder.start(doc_id)
            extract_document(doc, config, builder)
        schema = pa.schema(list(extract._ARROW_OUT)[:-2])
        columns = [extract._array(f.type, spec) for f, spec in zip(schema, builder.flush())]
        ours = pa.RecordBatch.from_arrays(columns, schema=schema)
        ours.validate(full=True)
        [theirs] = python_batches(docs, config)
        assert ours.equals(theirs.drop_columns(["part_id"]))
        refs = {s["media_ref"] for s in ours.column("spans")[0].as_py()}
        assert refs == {None, "m\ufffd\ufffd\ufffd\U0001F600"}


def test_operator_flushes_as_the_python_rows_do(monkeypatch):
    """A document of more than ``_FLUSH_ROWS`` tables closes its batch after
    it, as does ``_FLUSH_BYTES`` of HTML; the rest follow in later
    batches."""
    big = ("big", "<table><tr><td>x</td></tr></table>" * (extract._FLUSH_ROWS + 10))
    small = [(f"s{i}", f"<table><tr><td>{i}</td></tr></table><table></table>") for i in range(5)]
    config = ParserConfig().all_tables()
    docs = [small[0], big, *small[1:]]
    assert [b.num_rows for b in operator_batches(docs, config)] == [2 + extract._FLUSH_ROWS + 10, 8]
    assert assert_operator_agrees(docs, config) == 2 + extract._FLUSH_ROWS + 18
    monkeypatch.setattr(extract, "_FLUSH_BYTES", 100)
    assert assert_operator_agrees(small + [("none", "<p>x</p>")], config) == 11
    assert [b.num_rows for b in operator_batches(small, config)] == [6, 4]  # 3 docs of 49 chars, then 2


def test_top_level_walk_equals_xpath():
    """``libxml2.top_level_tables`` selects what
    ``//table[not(ancestor::table)]`` selects, in the same order: on the
    fixtures, both benchmark corpora and documents past libxml2's depth cap
    (84 nested tables, 10,000 nested divs and tables)."""
    from perfbench.corpus import documents

    docs = [html for html, _ in FIXTURES.values()] + [CLAMP_HTML, f14_mega_doc_html(30)]
    docs += [
        "<table><tr><td>" * 84 + "<div>deep</div>",
        "<div>" * 10_000 + "<table><tr><td>deep</td></tr></table>",
        "<table><tr><td>" * 10_000 + "x",
        "<table/><p><table><tr><td><table></table></td></tr></table></p><svg><table/></svg>",
        "",
    ]
    docs += [doc_spans_to_html(d["spans"]) for w in ("bulk", "skew") for d in documents(w, 1)]
    for html in docs:
        with libxml2.document(html) as doc:
            assert libxml2.top_level_tables(doc) == libxml2.query(doc, grid_oracle.TOP_LEVEL_TABLES), html[:300]


def test_builder_does_not_leak():
    """20,000 tables through ``Builder``s (ok, user-header, error and marker
    rows; a new builder every 20 tables, a flush every 10 rows, each
    into Arrow arrays) grow traced memory by under 1 MB and leave the
    reference counts of the values passed in where they were."""
    sections = ParserConfig().include_all_sections().included_sections
    caption, header, doc_id = "caption \u00e9", ["h1", "h1", "h2"], "doc"
    projection = ((3, "d"), (0, "a"))

    def run(n_tables: int) -> None:
        with libxml2.document(LEAK_HTML) as doc:
            [table] = libxml2.top_level_tables(doc)
            for i in range(n_tables):
                if i % 20 == 0:
                    builder = libxml2.Builder()
                    builder.start(doc_id if i % 40 else None)
                kind = i % 4
                read = libxml2.table(table, "thead", 0, sections, projection if kind == 1 else (), builder)
                if kind == 2:
                    builder.error(i, "duplicate")
                elif kind == 3:
                    builder.empty()
                else:
                    builder.add(i, caption, header if kind == 0 else read[1], read[2])
                if builder.rows == 10:
                    for field, spec in zip(extract._ARROW_OUT, builder.flush()):
                        extract._array(field.type, spec)

    run(2_000)
    gc.collect()
    refs = [sys.getrefcount(v) for v in (caption, header, doc_id, projection)]
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        run(20_000)
        gc.collect()
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    refs_after = [sys.getrefcount(v) for v in (caption, header, doc_id, projection)]
    assert grown < 1_000_000, grown
    assert refs_after == refs
