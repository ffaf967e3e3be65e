"""Spark extraction operator vs the (fixture-pinned) kernel oracle.

The kernel itself is verified against hand-derived reference expectations in
test_semantics_fixtures.py; here we verify that the distributed path —
Arrow batches, mapInArrow fan-out, span reassembly, the pipeline's mega-doc
chunk leg — produces byte-identical span sequences to running the kernel
in-process.
"""

from __future__ import annotations

import pytest

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import fixture_documents, synthesize_documents
from html_table_spark.fixtures import FIXTURES, f14_mega_doc_html
from html_table_spark.operators.extract import extract_tables
from html_table_spark.plans.pipeline import plan_extraction_legs
from html_table_spark.semantics import parse_document
from html_table_spark.spans import doc_spans_to_html, encode_table_spans, spans_signature
from html_table_spark.sources.documents import DOCUMENTS_SCHEMA


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def _chunk_leg(spark, rows, tables_per_chunk):
    """The pipeline's mega leg over ``rows`` (chunk pass → salted pass 2).

    Each doc's HTML is cut into 16 text spans so the span-count routing
    (hint 8 at a 4 KiB threshold) sends every doc down this leg."""
    span_heavy = []
    for row in rows:
        html = doc_spans_to_html(row["spans"])
        k = -(-len(html) // 16)
        span_heavy.append({"doc_id": row["doc_id"], "spans": [
            {"kind": "text", "text": html[i * k : (i + 1) * k], "media_ref": None, "offset": i}
            for i in range(16)
        ]})
    _, mega = plan_extraction_legs(
        _docs_df(spark, span_heavy),
        ParserConfig().all_tables(),
        num_partitions=4,
        mega_cost_threshold=4096,
        tables_per_chunk=tables_per_chunk,
    )
    assert mega is not None, "no doc took the chunk leg"
    return mega


def kernel_signatures(rows, config):
    expected = {}
    for row in rows:
        html = doc_spans_to_html(row["spans"])
        for table in parse_document(html, config):
            expected[(row["doc_id"], table.table_idx)] = (
                table.status,
                table.caption,
                tuple(table.header),
                spans_signature(encode_table_spans(table)),
            )
    return expected


def spark_signatures(df):
    out = {}
    # completion markers (table_idx = -1, zero-table docs) are a pipeline
    # bookkeeping row, not an extraction result
    for row in df.filter("table_idx >= 0").collect():
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in (row.spans or [])]
        out[(row.doc_id, row.table_idx)] = (
            row.status,
            row.caption,
            tuple(row.header or []),
            spans_signature(spans),
        )
    return out


def test_synthetic_corpus_parity(spark):
    rows = synthesize_documents(n_docs=120, seed=7, media_fraction=0.4)
    config = ParserConfig().all_tables()
    result = extract_tables(_docs_df(spark, rows), config)
    assert spark_signatures(result) == kernel_signatures(rows, config)


def test_fixture_corpus_single_table_mode(spark):
    rows = [r for r in fixture_documents() if r["doc_id"] in ("F01", "F04", "F05", "F13")]
    config = ParserConfig()
    result = extract_tables(_docs_df(spark, rows), config)
    got = spark_signatures(result)
    assert set(got) == {(r["doc_id"], 0) for r in rows}
    assert got == kernel_signatures(rows, config)


def test_error_rows_not_exceptions(spark):
    rows = [
        {"doc_id": "bad", "spans": [{"kind": "text", "text": "no tables", "media_ref": None, "offset": 0}]},
        {"doc_id": "ok", "spans": [{"kind": "text", "text": "<table><tr><td>x</td></tr></table>", "media_ref": None, "offset": 0}]},
    ]
    result = extract_tables(_docs_df(spark, rows), ParserConfig()).collect()
    by_id = {r.doc_id: r for r in result}
    assert by_id["bad"].status == "error"
    assert by_id["bad"].error_msg == "The HTML table could not be found in the submitted html."
    assert by_id["ok"].status == "ok"
    assert by_id["ok"].n_rows == 1


def test_multi_span_document_reassembly(spark):
    # HTML split across many text spans out of order + media spans ignored
    html = FIXTURES["F01"][0]
    third = len(html) // 3
    rows = [
        {
            "doc_id": "split",
            "spans": [
                {"kind": "text", "text": html[third : 2 * third], "media_ref": None, "offset": 1},
                {"kind": "media", "text": "", "media_ref": "mX", "offset": 3},
                {"kind": "text", "text": html[:third], "media_ref": None, "offset": 0},
                {"kind": "text", "text": html[2 * third :], "media_ref": None, "offset": 2},
            ],
        }
    ]
    result = extract_tables(_docs_df(spark, rows), ParserConfig()).collect()
    assert result[0].header == ["prenoms", "nombre", "sexe", "annee"]
    assert result[0].n_rows == 4


@pytest.mark.parametrize("tables_per_chunk", [16, 64])
def test_mega_doc_split_parity(spark, tables_per_chunk):
    n_tables = 150
    html = f14_mega_doc_html(n_tables)
    rows = [
        {"doc_id": "mega", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_chunk_leg(spark, rows, tables_per_chunk))
    expected = kernel_signatures(rows, config)
    assert len(got) == n_tables
    assert got == expected  # table_idx base offsets line up globally


def test_split_falls_back_on_soup(spark):
    """A stray top-level </table> is ignored, as the tree builder ignores
    it: the one table left is one whole-doc chunk, and the chunk leg equals
    the kernel."""
    soup = "</table><table><tr><td>x</td></tr></table>"
    rows = [
        {"doc_id": "soup", "spans": [{"kind": "text", "text": soup, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    chunks = extract_tables(
        _docs_df(spark, rows), config, tables_per_chunk=1, mega_policy="chunk"
    ).collect()
    assert [(r.doc_id, r.table_idx_base) for r in chunks] == [("soup", 0)]
    got = spark_signatures(_chunk_leg(spark, rows, tables_per_chunk=1))
    assert len(got) == 1
    assert got == kernel_signatures(rows, config)


def test_read_html_files_parsefile_parity(spark, tmp_path):
    """parseFile parity: raw .html files → documents schema → extraction."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.operators.extract import extract_tables
    from html_table_spark.sources.documents import read_html_files

    (tmp_path / "a.html").write_text(
        "<table><caption>T</caption><tr><td>x</td><td>y</td></tr></table>"
    )
    (tmp_path / "b.html").write_text(
        "<p>no table here</p>"
    )
    (tmp_path / "skip.txt").write_text("not html")

    docs = read_html_files(spark, str(tmp_path))
    assert docs.columns == ["doc_id", "spans"]
    out = extract_tables(docs, ParserConfig()).collect()
    by_id = {r.doc_id.rsplit("/", 1)[-1]: r for r in out}
    assert set(by_id) == {"a.html", "b.html"}
    a = by_id["a.html"]
    assert a.status == "ok" and a.caption == "T" and a.n_cells == 2
    # no table → reference error semantics, surfaced as a status row
    assert by_id["b.html"].status == "error"


def test_documents_from_html_strings(spark):
    from html_table_spark.config import ParserConfig
    from html_table_spark.operators.extract import extract_tables
    from html_table_spark.sources.documents import documents_from_html

    docs = documents_from_html(spark, ["<table><tr><td>v</td></tr></table>"], ["d1"])
    row = extract_tables(docs, ParserConfig()).first()
    assert row.doc_id == "d1" and row.n_rows == 1


def test_read_documents_reordered_span_fields(spark, tmp_path):
    """A corpus whose span struct carries the same fields in a different
    order must map by NAME, not position (a DDL cast would silently put
    offsets into media_ref)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from html_table_spark.sources.documents import read_documents

    schema = pa.schema([
        ("doc_id", pa.int64()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()),
            ("text", pa.string()),
            ("offset", pa.int32()),      # offset BEFORE media_ref
            ("media_ref", pa.string()),
        ]))),
    ])
    rows = [{"doc_id": 7, "spans": [
        {"kind": "text", "text": "<table><tr><td>x</td></tr></table>",
         "offset": 0, "media_ref": None},
        {"kind": "media", "text": "", "offset": 1, "media_ref": "M9"},
    ]}]
    p = str(tmp_path / "reordered.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), p)
    got = read_documents(spark, p).collect()
    assert got[0].doc_id == "7"
    spans = got[0].spans
    assert spans[0].offset == 0 and spans[0].media_ref is None
    assert spans[1].media_ref == "M9" and spans[1].offset == 1


def _tokenizer_table_count(html: str) -> int:
    from html_table_spark.htmldom import parse_html
    from html_table_spark.semantics import _top_level_tables

    return len(_top_level_tables(parse_html(html)[0]))


def test_table_cuts_ignore_comments_rawtext_and_typos():
    from html_table_spark.htmldom import top_level_table_ranges

    # commented-out table is not a boundary
    h = "<!-- <table><tr><td>x</td></tr></table> --><table><tr><td>y</td></tr></table>"
    cuts = top_level_table_ranges(h)
    assert len(cuts) == 1
    assert h[cuts[0][0]:cuts[0][1]].startswith("<table><tr><td>y")
    # script-embedded table markup is not a boundary
    h2 = "<script>var s='<table>'</script><table><tr><td>z</td></tr></table>"
    assert len(top_level_table_ranges(h2)) == 1
    # </tables> is not a close tag
    h3 = "<table><tr><td>a</td></tr></tables></table>"
    assert len(top_level_table_ranges(h3)) == 1
    # unterminated comment: skipped to its first '>' like any tokenizer token
    h4 = "<!-- oops <table></table>"
    assert len(top_level_table_ranges(h4)) == _tokenizer_table_count(h4) == 0


def test_table_cuts_quoted_markup_in_uninspected_tag_falls_back():
    """Round-3 ADVICE: balanced table markup hidden inside a tag's
    attribute or end tag must not produce garbage cuts. The cuts come from
    the tokenizer's own token stream, so markup it hides is hidden from the
    cuts too: each of these documents splits into exactly the tokenizer's
    tables."""
    from html_table_spark.htmldom import top_level_table_ranges

    t = "<table><tr><td>x</td></tr></table>"
    # the ADVICE repro: quoted close+open stays depth-balanced
    bad = '<table><tr><td data-x="</table>x<table>">A</td></tr></table>'
    assert top_level_table_ranges(bad) == [(0, len(bad))]
    for h, tables in (
        # unquoted attr value running into table markup
        ("<table><tr><td foo=</table>>A</td></tr></table>", 1),
        # quoted '>' before the hidden '<' (defeats any quote-blind heuristic)
        ('<div a=">" b="<table">' + t, 1),
        # '<' inside an END tag's junk region (</td ... > is quote-blind)
        ("<div></div <table>" + t, 1),
        # text '< letter' opens a tag, whose attributes hide the table's tag
        ("i<j and k<m" + t, 0),
        # ordinary quoted attributes (including quoted '>')
        ('<table class="a>b"><tr><td>y</td></tr></table>' + t, 2),
        ('<div id="x" data-y=\'1\'>' + t * 2, 2),
        # text '<' NOT followed by a letter
        ("<p>1 < 2 &lt; 3</p>" + t, 1),
    ):
        assert len(top_level_table_ranges(h)) == _tokenizer_table_count(h) == tables, h


_QUOTE_RUNS = """
from html_table_spark.htmldom import parse_html
from html_table_spark.operators.extract import split_html

t = "<table><tr><td>x</td></tr></table>"
for q in ('"', "'"):
    for n in (61, 200_000):
        # a quote run inside a tag, then '>' and a table; or, cut off by end
        # of input, after the table
        for s in ("<a " + q * n + ">" + t, t + "<a " + q * n):
            assert split_html(s, 1) == [(0, s)]
            assert len(parse_html(s)[0].children) == 2
"""


def test_unseen_tag_angle_prescan_is_linear_time():
    """Round-3 review: splitting and parsing stay linear on adversarial
    quote runs. A backtracking attribute region took ~8x longer per +4
    quotes (3s at 32 quotes; hours at 60+), pinning an executor core on one
    crafted mega doc, so the check runs in a subprocess with a timeout: a
    regression fails instead of hanging the suite. Markup a quoted
    attribute hides is hidden from the cuts as from the tree."""
    import subprocess
    import sys
    from pathlib import Path

    from html_table_spark.operators.extract import split_html

    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", _QUOTE_RUNS], cwd=repo, check=True, timeout=60)
    t = "<table><tr><td>x</td></tr></table>"
    for h in (
        '<td data-x="</table>x<table>">',
        "</td foo<table>",
        '<a "x<y">',
        '<td a="q\'q" b=\'d"d\'>x</td>',
        '<td class="x">a</td><table>',
    ):
        assert len(split_html(h + t, 1)) == max(1, _tokenizer_table_count(h + t)), h


def test_chunk_mode_emits_only_chunk_rows(spark):
    """INVARIANT the pipeline relies on (plans/pipeline.py has no
    parsed-in-place union leg and no persist on the strength of this): with
    mega_policy='chunk', every doc — well-formed or tag soup with a stray
    </table> — yields ONLY split rows (doc_id, html, table_idx_base), at
    least one per doc, with bases ascending from 0."""
    splittable = f14_mega_doc_html(8)
    soup = "</table>" + "<table><tr><td>s</td></tr></table>" * 3
    rows = [
        {"doc_id": "m1", "spans": [{"kind": "text", "text": splittable, "media_ref": None, "offset": 0}]},
        {"doc_id": "m2", "spans": [{"kind": "text", "text": soup, "media_ref": None, "offset": 0}]},
    ]
    out = extract_tables(
        _docs_df(spark, rows),
        ParserConfig().all_tables(),
        tables_per_chunk=2,
        mega_policy="chunk",
    ).collect()
    assert out, "chunk pass emitted nothing"
    assert {tuple(r.asDict()) for r in out} == {("doc_id", "html", "table_idx_base")}
    assert {r.doc_id for r in out} == {"m1", "m2"}
    for doc_id in ("m1", "m2"):
        bases = [r.table_idx_base for r in out if r.doc_id == doc_id]
        assert bases[0] == 0 and bases == sorted(set(bases)), (doc_id, bases)
    # the stray </table> is ignored, so the soup doc's 3 tables split too
    assert [r.table_idx_base for r in out if r.doc_id == "m2"] == [0, 2]


def test_unknown_mega_policy_rejected(spark):
    docs = _docs_df(spark, [])
    for policy in ("drop", "PARSE", None):
        with pytest.raises(ValueError, match="mega_policy"):
            extract_tables(docs, ParserConfig().all_tables(), mega_policy=policy)


def test_mega_doc_split_parity_quoted_markup(spark):
    """End-to-end: a doc with quoted table markup inside an attribute
    produces IDENTICAL results via the pipeline's chunk leg and the
    whole-doc kernel. The cuts follow the tokenizer, which keeps the quoted
    markup inside the attribute, so the doc splits and no cut lands in
    it."""
    from html_table_spark.operators.extract import split_html

    t = "<table><tr><td>c{}</td></tr></table>"
    html = (
        '<table><tr><td data-x="</table>x<table>">A</td></tr></table>'
        + "".join(t.format(i) for i in range(50))
    )
    rows = [
        {"doc_id": "qm", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    assert len(split_html(html, 8)) == 7
    config = ParserConfig().all_tables()
    got = spark_signatures(_chunk_leg(spark, rows, tables_per_chunk=8))
    expected = kernel_signatures(rows, config)
    assert len(got) == 51
    assert got == expected

def test_table_cuts_selfclosed_rawtext_and_empty_table():
    """Self-closed <script/>/<style/>/<table/> are EMPTY elements to the
    tokenizer (htmldom _TAG_RE selfclose group) — the table ranges must not
    raw-text-skip past them or unbalance its depth counter (round-2 ADVICE:
    silent table loss when chunk-splitting engaged)."""
    from html_table_spark.htmldom import top_level_table_ranges

    t = "<table><tr><td>x</td></tr></table>"
    # ADVICE repro: <script/> + 3 tables + stray </script> + 1 table.
    # The stray </script> ends raw text nowhere (no raw text is open), the
    # tokenizer sees 4 top-level tables... but the stray close is consumed
    # as an end-tag token; all 4 tables are real.
    h = "<script/>" + t * 3 + "</script>" + t
    assert len(top_level_table_ranges(h)) == 4
    # self-closed style
    assert len(top_level_table_ranges("<style/>" + t * 2 + "</style>" + t)) == 3
    # self-closed table: a complete zero-row table, must count as a cut and
    # not increment depth
    assert len(top_level_table_ranges("<table/>" + t + "<table/>")) == 3
    # self-closed with attributes / unquoted value ending in '/'
    assert len(top_level_table_ranges('<script src="x.js"/>' + t)) == 1
    assert len(top_level_table_ranges("<script src=foo/>" + t)) == 1
    # quoted '>' inside a raw-text opener's attribute
    assert len(top_level_table_ranges('<script src="a>b">var x</script>' + t)) == 1
    # quoted '>' inside the table tag itself
    assert len(top_level_table_ranges('<table class="a>b"><tr><td>y</td></tr></table>')) == 1


def test_mega_doc_split_parity_selfclosed_script(spark):
    """End-to-end: the pipeline's chunk-leg output == whole-doc output on a
    mega doc whose preamble contains the ADVICE self-closed-script
    pattern."""
    t = "<table><tr><td>c{}</td></tr></table>"
    html = "<script/>" + "".join(t.format(i) for i in range(40)) + "</script>" + "".join(
        t.format(i) for i in range(40, 50)
    )
    rows = [
        {"doc_id": "sc", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_chunk_leg(spark, rows, tables_per_chunk=8))
    expected = kernel_signatures(rows, config)
    assert len(got) == 50
    assert got == expected


def test_chunk_leg_parity_misnested_end_tag(spark):
    """Chunking must never change output. A <div> wraps 130 tables and
    table 70 holds a stray </div>. The chunk starting at table 64 has no
    open <div>; the whole-doc parse has one, but the open <td> outranks
    it (libxml2 end-tag priority), so both ignore the end tag and the
    table keeps two cells ('ab', 'c')."""
    tables = ["<table><tr><td>t{}</td></tr></table>".format(i) for i in range(130)]
    tables[70] = "<table><tr><td>a</div>b</td><td>c</td></tr></table>"
    html = "<div>" + "".join(tables) + "</div>"
    rows = [
        {"doc_id": "nest", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_chunk_leg(spark, rows, tables_per_chunk=64))
    assert got == kernel_signatures(rows, config)
