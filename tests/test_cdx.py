"""CDX indexing for WARC archives (sources/cdx.py)."""

from __future__ import annotations

import zlib
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from html_table_spark.sources.cdx import cdx_records, urlkey, warc_cdx
from html_table_spark.sources.warc import encode_warc, parse_warc

PAGES = [
    {"url": "HTTP://Example.COM:80/a//b?b=2&a=1#f", "html": "<p>x</p>"},
    {"url": "http://site.example/p", "html": "<table><tr><td>1</td></tr></table>"},
    {"url": "http://site.example/miss", "html": "<i>n</i>", "status": 404},
]


def _random_access_ok(b: bytes, rows: list[dict], gz: bool) -> None:
    for r in rows:
        chunk = b[r["offset"] : r["offset"] + r["length"]]
        raw = zlib.decompress(chunk, 16 + zlib.MAX_WBITS) if gz else chunk
        sub = parse_warc(raw)
        assert len(sub) == 1 and sub[0]["status"] == "ok"
        assert sub[0].get("url", "") == r["url"]


@pytest.mark.parametrize("gz", [False, True])
def test_index_fields_and_random_access(gz):
    b = encode_warc(PAGES, per_record_gzip=gz)
    rows = cdx_records("arc-1", b)
    assert [r["record_type"] for r in rows] == ["warcinfo"] + ["response"] * 3
    resp = rows[1]
    assert resp["urlkey"] == "http://example.com/a/b?a=1&b=2"
    assert resp["ts"] == "20240101000000"
    assert resp["http_status"] == 200 and resp["mime"] == "text/html"
    assert rows[3]["http_status"] == 404
    assert len(resp["digest"]) == 32  # SHA1 base32
    assert rows[0]["offset"] == 0
    # offsets strictly increase and never overlap
    for a, c in zip(rows, rows[1:]):
        assert c["offset"] >= a["offset"] + a["length"] - (0 if gz else 4)
    _random_access_ok(b, rows, gz)


def test_digest_identifies_identical_content():
    b1 = encode_warc([PAGES[1]])
    b2 = encode_warc([PAGES[1]], per_record_gzip=True)
    d1 = cdx_records("a", b1)[1]["digest"]
    d2 = cdx_records("b", b2)[1]["digest"]
    assert d1 == d2  # digest is over the RECORD CONTENT, not the container


def test_unlocatable_records_are_skipped_not_invented():
    good = encode_warc(PAGES[:1])
    rows = cdx_records("a", b"garbage\r\n" + good)
    # the index lists only locatable records (reader surfaces the error)
    assert [r["record_type"] for r in rows] == ["warcinfo", "response"]
    assert cdx_records("a", b"\x1f\x8b\xffbroken") == []
    assert cdx_records("a", b"") == []


def _response_record(page: dict) -> bytes:
    """``encode_warc``'s response record for ``page``, without the
    warcinfo record it writes first."""
    archive = encode_warc([page])
    return archive[archive.index(b"WARC/1.1\r\n", 1) :]


def _lf_only_header(record: bytes) -> bytes:
    head, _, rest = record.partition(b"\r\n\r\n")
    return head.replace(b"\r\n", b"\n") + b"\n\n" + rest


# how a record's WARC header is written; encode_warc puts Content-Length last
HEADER_VARIANTS = {
    "as_written": lambda r: r,
    "space_before_colon": lambda r: r.replace(b"\r\nContent-Length: ", b"\r\nContent-Length : ", 1),
    "plus_sign": lambda r: r.replace(b"\r\nContent-Length: ", b"\r\nContent-Length: +", 1),
    "lower_case": lambda r: r.replace(b"\r\nContent-Length: ", b"\r\ncontent-length: ", 1),
    "lf_only": _lf_only_header,
}


def _gzip_member(b: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(b) + co.flush()


def _over_long(record: bytes, extra: int) -> bytes:
    """``encode_warc``'s ``record`` with a Content-Length (its header's last
    line) ``extra`` bytes past its content and the CR/LF run after it."""
    head, sep, rest = record.partition(b"\r\n\r\n")
    name, _, n = head.rpartition(b": ")
    return name + b": %d" % (int(n) + 4 + extra) + sep + rest


# how a response record is packed into .warc.gz members: whole in one, cut
# in two at a point before its closing CR/LF run, or in one with a
# Content-Length that runs past the member
PACKINGS = ("whole", "cut", "over_long")


@settings(max_examples=80, deadline=None)
@given(
    records=st.lists(
        st.tuples(
            st.sampled_from(sorted(HEADER_VARIANTS)),
            # spliced before the record: the reader resyncs at its WARC/ magic
            st.binary(max_size=30).filter(lambda g: b"WARC/" not in g),
            st.sampled_from([200, 404]),
            st.text(st.characters(blacklist_categories=("Cs",)), max_size=40),
            st.sampled_from(PACKINGS),
            st.integers(min_value=0, max_value=10**4),
        ),
        min_size=1,
        max_size=6,
    ),
    gz=st.booleans(),
)
def test_reader_and_index_agree(records, gz):
    """The index lists exactly the records the reader reads: every ``ok``
    record of ``parse_warc`` has one CDX row with its url, record type and
    HTTP status, and every row's ``(offset, length)`` slice re-parses to
    exactly one ``ok`` record, whatever the header's spelling and the
    garbage between records. In .warc.gz each piece is its own member,
    and a record cut across two members or running past its member is a
    broken record that costs no other record."""
    pieces, whole = [encode_warc([])], 1
    for k, (variant, garbage, status, html, packing, at) in enumerate(records):
        page = {"url": f"http://p{k}.example/", "html": html, "status": status}
        record = _response_record(page)
        if gz and packing == "over_long":
            record = _over_long(record, 1 + at % 64)
        record = HEADER_VARIANTS[variant](record)
        if gz and packing == "cut":
            cut = 1 + at % (len(record) - 5)
            pieces += [garbage, record[:cut], record[cut:]]
        else:
            pieces += [garbage, record]
        whole += not gz or packing == "whole"
    pieces = [p for p in pieces if p]
    b = b"".join(_gzip_member(p) for p in pieces) if gz else b"".join(pieces)
    read = [r for r in parse_warc(b) if r["status"] == "ok"]
    assert len(read) == whole
    rows = cdx_records("a", b)
    key = lambda r: (r["url"], r["record_type"], r["http_status"])  # noqa: E731
    assert Counter(map(key, rows)) == Counter(map(key, read))
    for r in rows:
        chunk = b[r["offset"] : r["offset"] + r["length"]]
        sub = parse_warc(zlib.decompress(chunk, 16 + zlib.MAX_WBITS) if gz else chunk)
        assert [key(s) for s in sub if s["status"] == "ok"] == [key(r)]


def test_urlkey_matches_spark_canonical_semantics():
    assert urlkey("HTTP://Example.COM:80/a//b?b=2&a=1#f") == \
        "http://example.com/a/b?a=1&b=2"
    assert urlkey("https://H/x?utm_source=a&fbclid=z&k=1") == "https://h/x?k=1"
    assert urlkey("http://h") == "http://h/"
    assert urlkey("no-scheme/path") == "no-scheme/path"


@settings(max_examples=30, deadline=None)
@given(data=st.binary(max_size=300))
def test_property_garbage_never_raises(data):
    assert isinstance(cdx_records("a", data), list)


def test_spark_operator_and_registry(spark):
    import __spark_entry__ as entry

    adf = spark.createDataFrame(
        [("one.warc", encode_warc(PAGES)),
         ("two.warc.gz", encode_warc(PAGES[:1], per_record_gzip=True))],
        "archive string, payload binary",
    )
    rows = warc_cdx(adf).collect()
    assert len(rows) == 4 + 2
    assert {r["archive"] for r in rows} == {"one.warc", "two.warc.gz"}

    out = entry.x_warc_cdx(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 74
    assert all(r["length"] > 0 for r in out)
    # urlkeys exist for every response row
    assert all(r["urlkey"] for r in out if r["record_type"] == "response")
