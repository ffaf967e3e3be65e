"""WARC (ISO 28500) source: parser, gzip members, Spark reader, pipeline."""

from __future__ import annotations

import os
import zlib

from pyspark.sql import functions as F

from html_table_spark.sources.warc import (
    encode_warc,
    located_records,
    parse_warc,
    parse_warc_column,
    read_warc,
    read_warc_documents,
    warc_to_documents,
)

PAGES = [
    {"url": "http://a.example/t", "html": "<table><tr><th>h</th></tr><tr><td>v</td></tr></table>"},
    {"url": "http://b.example/p", "html": "<p>plain</p>"},
    {"url": "http://c.example/miss", "html": "<h1>gone</h1>", "status": 404},
    {"url": "http://d.example/j", "html": '{"k": 1}', "mime": "application/json"},
]


def test_parse_plain_and_gzip_layouts():
    for gz in (False, True):
        recs = parse_warc(encode_warc(PAGES, per_record_gzip=gz))
        assert [r["record_type"] for r in recs] == ["warcinfo"] + ["response"] * 4
        assert all(r["status"] == "ok" for r in recs)
        assert recs[1]["text"] == PAGES[0]["html"]
        assert recs[1]["http_status"] == 200 and recs[1]["mime"] == "text/html"
        assert recs[3]["http_status"] == 404
        assert recs[4]["mime"] == "application/json"
        assert recs[1]["url"] == "http://a.example/t"
        assert recs[1]["warc_date"] == "2024-01-01T00:00:00Z"


def _members(b: bytes) -> list[bytes]:
    """The decompressed gzip members ``located_records`` walked, in order."""
    spans = sorted({(offset, length) for offset, length, _, _ in located_records(b)})
    return [zlib.decompress(b[o : o + n], 16 + zlib.MAX_WBITS) for o, n in spans]


def test_gzip_member_split_and_errors():
    b = encode_warc(PAGES[:2], per_record_gzip=True)
    members = _members(b)
    assert len(members) == 3  # warcinfo + 2 responses
    assert members[1].startswith(b"WARC/1.1\r\n")
    # a damaged container is one error entry, and the walk stops there
    bad = list(located_records(b"\x1f\x8b\xff nonsense"))
    assert len(bad) == 1 and bad[0][3].startswith("error: corrupt gzip")
    tail = list(located_records(b + b"tail"))
    assert [e[3] for e in tail[3:]] == ["error: trailing garbage after gzip members"]
    assert tail[3][:2] == (len(b), 4)
    # NUL padding after the last member is not garbage
    assert len(list(located_records(b + b"\x00" * 8))) == 3
    cut = list(located_records(b[:-5]))
    assert [e[3] for e in cut[2:]] == ["error: truncated gzip member"]
    # a corrupt archive yields an error ROW, never an exception
    rows = parse_warc(b"\x1f\x8b\xff nonsense")
    assert len(rows) == 1 and rows[0]["status"].startswith("error:")
    # the records before the damage are read
    rows = parse_warc(b + b"tail")
    assert [r["status"] for r in rows[:3]] == ["ok"] * 3
    assert rows[3]["status"] == "error: trailing garbage after gzip members"


def test_gzip_member_walk_is_linear(monkeypatch):
    """The member walk feeds the decompressor O(archive) bytes: feeding
    each member the whole archive tail re-copies it per member, which is
    quadratic on the one-record-per-member Common Crawl layout."""
    from html_table_spark.sources.cdx import cdx_records

    pages = [
        {"url": f"http://p{k}.example/", "html": f"<table><tr><td>{k}</td></tr></table>"}
        for k in range(1999)
    ]
    b = encode_warc(pages, per_record_gzip=True)
    real = zlib.decompressobj
    fed = [0]

    class Counting:
        def __init__(self, *args):
            self._d = real(*args)

        def decompress(self, data, *args):
            fed[0] += memoryview(data).nbytes
            return self._d.decompress(data, *args)

        def __getattr__(self, name):
            return getattr(self._d, name)

    monkeypatch.setattr(zlib, "decompressobj", Counting)
    assert len({offset for offset, _, _, _ in located_records(b)}) == 2000
    assert fed[0] <= 3 * len(b), (fed[0], len(b))
    fed[0] = 0
    rows = cdx_records("a.warc.gz", b)
    assert len(rows) == 2000
    assert fed[0] <= 3 * len(b), (fed[0], len(b))


def test_tolerant_resync_and_truncation():
    good = encode_warc(PAGES[:1])
    recs = parse_warc(b"NOT-A-WARC\r\n" + good)
    assert recs[0]["status"] == "error: no WARC version line"
    assert [r["status"] for r in recs[1:]] == ["ok", "ok"]
    # truncated content block: error row, parse stops cleanly
    recs = parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\nxx")
    assert recs == [
        {"status": "error: truncated content block", "record_type": "response",
         "url": "", "warc_date": ""}
    ]
    recs = parse_warc(b"WARC/1.0\r\nContent-Length: many\r\n\r\n")
    assert recs[0]["status"] == "error: bad Content-Length"


def test_negative_content_length_is_bad():
    """``int()`` reads ``-40`` as a length: the record is a bad one and the
    walk goes on from its header block. Read as a length, it would step the
    walk back to the garbage before the record, and from there to the same
    record again, forever."""
    recs = parse_warc(b"garbage\r\nWARC/1.0\r\nContent-Length: -40\r\n\r\nabc" + encode_warc([]))
    assert [r["status"] for r in recs] == [
        "error: no WARC version line", "error: bad Content-Length", "ok"
    ]


def test_charset_decode_fallback():
    b = encode_warc(
        [{"url": "http://l.example", "html": "<td>café</td>", "charset": "latin-1"}]
    )
    assert parse_warc(b)[1]["text"] == "<td>café</td>"
    # undeclared charset: utf-8 first, latin-1 as the never-fails fallback
    raw = "café".encode("latin-1")
    http = b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n" % len(raw) + raw
    rec = (
        b"WARC/1.1\r\nWARC-Type: response\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n"
    )
    assert parse_warc(rec)[0]["text"] == "café"
    # a codec that fails on any input (idna and punycode refuse
    # errors="replace") reads as undeclared, and costs no other record
    rows = parse_warc(encode_warc(
        [{"url": "http://a.example/", "html": "<td>café</td>"},
         {"url": "http://b.example/", "html": "<td>x</td>", "charset": "idna"}]
    ))
    assert [r["status"] for r in rows] == ["ok"] * 3
    assert [r["text"] for r in rows[1:]] == ["<td>café</td>", "<td>x</td>"]


def test_non_http_response_body():
    content = b"just bytes"
    rec = (
        b"WARC/1.1\r\nWARC-Type: resource\r\nContent-Type: text/plain\r\n"
        b"Content-Length: %d\r\n\r\n" % len(content) + content + b"\r\n\r\n"
    )
    r = parse_warc(rec)[0]
    assert (r["record_type"], r["mime"], r["text"]) == ("resource", "text/plain", "just bytes")
    assert r["http_status"] is None


def test_spark_reader_binaryfile(spark, tmp_path):
    (tmp_path / "one.warc").write_bytes(encode_warc(PAGES))
    (tmp_path / "two.warc.gz").write_bytes(encode_warc(PAGES[:2], per_record_gzip=True))
    (tmp_path / "ignore.txt").write_text("not a warc")
    recs = read_warc(spark, str(tmp_path))
    rows = recs.collect()
    assert len(rows) == 5 + 3
    assert {os.path.basename(r["archive"].split(":")[-1]) for r in rows} == {
        "one.warc", "two.warc.gz"
    }
    docs = warc_to_documents(recs)
    got = sorted(r["doc_id"] for r in docs.collect())
    # only 200 + HTML responses become documents (idx offset by warcinfo),
    # from BOTH archives, and the same url#idx in two archives stays two ids
    assert got == sorted(
        f"{archive}#{url}"
        for archive in ("one.warc", "two.warc.gz")
        for url in ("http://a.example/t#1", "http://b.example/p#2")
    )
    assert docs.schema["spans"].dataType.elementType.fieldNames() == [
        "kind", "text", "media_ref", "offset"
    ]


def test_end_to_end_extraction_from_warc(spark, tmp_path):
    from html_table_spark.config import ParserConfig
    from html_table_spark.operators.extract import extract_tables

    (tmp_path / "crawl.warc.gz").write_bytes(encode_warc(PAGES, per_record_gzip=True))
    docs = read_warc_documents(spark, str(tmp_path))
    extracted = extract_tables(docs, ParserConfig().all_tables())
    ok = extracted.where((F.col("status") == "ok") & (F.col("table_idx") >= 0))
    rows = ok.collect()
    assert len(rows) == 1  # only a.example/t carries a table
    assert rows[0]["doc_id"] == "crawl.warc.gz#http://a.example/t#1"
    texts = [s["text"] for s in rows[0]["spans"] if s["kind"] == "cell"]
    assert "v" in texts


def test_registry_query_shape(spark):
    import __spark_entry__ as entry

    df = entry.x_warc_extract(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 75
    by_status = {r["rec_status"] for r in rows}
    assert "ok" in by_status and any(s.startswith("error") for s in by_status)
    tabled = [r for r in rows if r["n_tables"] > 0]
    assert tabled and all(r["mime"] == "text/html" for r in tabled)
    # non-200 / non-HTML records never yield tables
    assert all(
        r["n_tables"] == 0
        for r in rows
        if r["http_status"] != 200 or r["mime"] != "text/html"
    )


# ---------------------------------------------------------------------------
# property tests: encode→parse roundtrip and no-crash tolerance
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_urls = st.from_regex(r"http://[a-z]{1,8}\.example/[a-zA-Z0-9/_-]{0,12}", fullmatch=True)
_html = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=400,
)


@settings(max_examples=40, deadline=None)
@given(
    pages=st.lists(
        st.fixed_dictionaries({"url": _urls, "html": _html}), min_size=1, max_size=5
    ),
    gz=st.booleans(),
)
def test_property_roundtrip(pages, gz):
    recs = parse_warc(encode_warc(pages, per_record_gzip=gz))
    assert len(recs) == len(pages) + 1
    assert all(r["status"] == "ok" for r in recs)
    for page, rec in zip(pages, recs[1:]):
        assert rec["url"] == page["url"]
        assert rec["text"] == page["html"]
        assert rec["http_status"] == 200


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=300))
def test_property_garbage_never_raises(data):
    rows = parse_warc(data)
    assert all(isinstance(r.get("status"), str) for r in rows)


@settings(max_examples=40, deadline=None)
@given(cut=st.integers(min_value=0, max_value=10**6))
def test_property_truncation_never_raises(cut):
    b = encode_warc(
        [{"url": "http://t.example/a", "html": "<p>x</p>"}] * 2, per_record_gzip=False
    )
    rows = parse_warc(b[: min(cut, len(b))])
    assert all(isinstance(r.get("status"), str) for r in rows)
    gz = encode_warc([{"url": "http://t.example/a", "html": "<p>x</p>"}],
                     per_record_gzip=True)
    rows = parse_warc(gz[: min(cut, len(gz))])
    assert all(isinstance(r.get("status"), str) for r in rows)
