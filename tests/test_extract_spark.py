"""Spark extraction operator vs the (fixture-pinned) kernel oracle.

The kernel itself is verified against hand-derived reference expectations in
test_semantics_fixtures.py; here we verify that the distributed path —
Arrow batches, mapInArrow fan-out, span reassembly, the pipeline's one
pass over mega docs — produces byte-identical span sequences to running the
kernel in-process.
"""

from __future__ import annotations

import gc

import pyarrow as pa
import pytest

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import fixture_documents, synthesize_documents
from html_table_spark.fixtures import FIXTURES, f14_mega_doc_html
from html_table_spark.operators.extract import extract_tables
from html_table_spark.plans.pipeline import plan_extraction
from html_table_spark.semantics import parse_document
from html_table_spark.spans import doc_spans_to_html, encode_table_spans, spans_signature
from html_table_spark.sources.documents import DOCUMENTS_SCHEMA


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def _one_pass(spark, rows, n_spans=16):
    """The pipeline's one pass over ``rows``, each doc's HTML cut into
    ``n_spans`` text spans that arrive in reverse order, so the JVM-side
    reassembly puts the document back together before it is parsed
    whole."""
    spread = []
    for row in rows:
        html = doc_spans_to_html(row["spans"])
        k = -(-len(html) // n_spans)
        spread.append({"doc_id": row["doc_id"], "spans": [
            {"kind": "text", "text": html[i * k : (i + 1) * k], "media_ref": None, "offset": i}
            for i in reversed(range(n_spans))
        ]})
    return plan_extraction(_docs_df(spark, spread), ParserConfig().all_tables(), num_partitions=4)


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


@pytest.mark.parametrize("n_spans", [16, 64])
def test_mega_doc_split_parity(spark, n_spans):
    """A 150-table mega doc, in 16 or 64 spans, extracts exactly the
    kernel's tables."""
    n_tables = 150
    html = f14_mega_doc_html(n_tables)
    rows = [
        {"doc_id": "mega", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_one_pass(spark, rows, n_spans))
    expected = kernel_signatures(rows, config)
    assert len(got) == n_tables
    assert got == expected


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


def test_mega_doc_split_parity_quoted_markup(spark):
    """End-to-end: a mega doc with quoted table markup inside an attribute
    produces IDENTICAL results via the pipeline's one pass and the
    whole-doc kernel."""
    t = "<table><tr><td>c{}</td></tr></table>"
    html = (
        '<table><tr><td data-x="</table>x<table>">A</td></tr></table>'
        + "".join(t.format(i) for i in range(50))
    )
    rows = [
        {"doc_id": "qm", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_one_pass(spark, rows))
    expected = kernel_signatures(rows, config)
    assert len(got) == 51
    assert got == expected

def test_mega_doc_split_parity_selfclosed_script(spark):
    """End-to-end: the pipeline's one-pass output == the kernel's on a
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
    got = spark_signatures(_one_pass(spark, rows))
    expected = kernel_signatures(rows, config)
    assert len(got) == 50
    assert got == expected


def test_chunk_leg_parity_misnested_end_tag(spark):
    """A <div> wraps 130 tables and table 70 holds a stray </div>: the open
    <td> outranks the <div> (libxml2 end-tag priority), so the end tag is
    ignored and the table keeps two cells ('ab', 'c'), in the one pass as
    in the kernel."""
    tables = ["<table><tr><td>t{}</td></tr></table>".format(i) for i in range(130)]
    tables[70] = "<table><tr><td>a</div>b</td><td>c</td></tr></table>"
    html = "<div>" + "".join(tables) + "</div>"
    rows = [
        {"doc_id": "nest", "spans": [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]}
    ]
    config = ParserConfig().all_tables()
    got = spark_signatures(_one_pass(spark, rows))
    assert got == kernel_signatures(rows, config)
    assert got[("nest", 70)][3] == spans_signature(
        [("cell", "ab", None, 0), ("cell", "c", None, 1)]
    )


def _html_batches(n_docs=3):
    for i in range(n_docs):
        yield pa.RecordBatch.from_pydict(
            {"doc_id": [f"d{i}"], "html": [f"<table><tr><td>{i}</td></tr></table>"]}
        )


def test_extractor_re_enables_gc_however_it_stops(monkeypatch):
    """The extractor runs with the cyclic GC off and turns it back on when
    it stops, whether the generator is closed early (a downstream limit, a
    killed task) or the kernel raises: Python workers are reused, and a GC
    left off would stay off for every later task."""
    from html_table_spark.operators import extract

    config = ParserConfig().all_tables()
    monkeypatch.setattr(extract, "_FLUSH_ROWS", 1)
    assert gc.isenabled()
    out = extract.make_arrow_extractor(config)(_html_batches())
    assert next(out).column("doc_id").to_pylist() == ["d0"]
    assert not gc.isenabled()
    out.close()
    assert gc.isenabled()

    def kernel_fails(html, config):
        raise RuntimeError("kernel failed")

    monkeypatch.setattr(extract, "parse_document", kernel_fails)
    with pytest.raises(RuntimeError, match="kernel failed"):
        list(extract.make_arrow_extractor(config)(_html_batches()))
    assert gc.isenabled()
