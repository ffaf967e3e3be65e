"""WARC (ISO 28500) corpus ingestion — the Common-Crawl-shaped source.

A web-scale extraction pipeline's raw input is usually not a curated
Parquet table but WARC archives: the ISO 28500 record format Common Crawl,
the Internet Archive, and every major crawler emit.  This module reads
them with the stdlib only (zlib for the per-record gzip members the
Common Crawl convention uses) and adapts HTTP ``response`` records into
the pipeline's canonical ``documents(doc_id, spans)`` shape, so the whole
engine — extraction, dedup, main-content, media — runs straight off a
crawl drop.

Format notes (ISO 28500 / WARC 1.1, public spec):

* a record is ``WARC/1.x CRLF``, name:value headers, ``CRLF CRLF``, then
  exactly ``Content-Length`` content bytes, then ``CRLF CRLF``;
* archives are plain concatenations of records, OR concatenations of
  single-record gzip members (Common Crawl's ``.warc.gz`` layout — members
  are detected by the 1f 8b magic and walked one by one in a linear pass
  that feeds ``zlib`` bounded slices of the archive, so no external
  gzip-member library is needed);
* ``response`` records wrap a full HTTP/1.1 response (status line, headers,
  body); the body's charset comes from the Content-Type header with a
  utf-8 → latin-1 fallback (latin-1 never fails, so undeclared legacy
  pages still yield text).

One walk reads archives: :func:`located_records` (gzip members, then
:func:`iter_records`' header block, header rule, Content-Length and
resync after a broken record in each) and ``_http_head`` (the HTTP status
line and Content-Type) serve both this reader and the CDX index
(``sources/cdx.py``), so the index lists exactly the records the reader
reads.

Scale design: the WARC *file* is the unit of parallelism — exactly how
Common Crawl is processed in practice (segment files are ~1 GB, and the
format is a stream with no random access, so records of one file are
inherently sequential).  ``spark.read.format("binaryFile")`` gives one row
per file; parsing runs in an Arrow-batched ``mapInPandas`` whose iterator
shape keeps one archive's records in memory at a time, and everything
downstream (extraction etc.) re-partitions on records, not files.  At
100 TB that is ~10^5 files across the cluster — ample task parallelism —
and per-task memory is bounded by one archive.

The writer (`encode_warc`) is an independent forward composition used for
fixtures, per the same discipline as the media codecs: the tolerant reader
must re-derive structure, not share helpers with the writer.

Reference parity note: the reference library (bakame-php/html-table) reads
single HTML pages (src/Parser.php:333-357 parseFile); WARC ingestion is
part of the source surface the build plan adds beyond the reference.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .documents import html_spans

__all__ = [
    "iter_records",
    "located_records",
    "parse_warc",
    "read_warc",
    "warc_doc_id",
    "warc_to_documents",
    "read_warc_documents",
    "encode_warc",
    "WARC_RECORDS_SCHEMA",
]

WARC_RECORDS_SCHEMA = (
    "archive string, record_idx int, record_type string, url string, "
    "warc_date string, http_status int, mime string, text string, "
    "status string"
)

# unanchored on purpose: callers match at a position, ``_VERSION_RE.match(b,
# i)``, instead of slicing the archive tail off at every record
_VERSION_RE = re.compile(rb"WARC/(\d+\.\d+)\r?\n")
_CHARSET_RE = re.compile(r"charset=[\"']?([A-Za-z0-9_.:-]+)", re.I)


# First slice fed to a member's decompressor; each further slice doubles,
# so a member of L compressed bytes is fed < 2L + _MEMBER_SLICE bytes and
# the overshoot zlib copies into ``unused_data`` stays below that too.
_MEMBER_SLICE = 256


def _gzip_members(b: bytes) -> Iterator[tuple[int, int, bytes | str]]:
    """``(offset, compressed_length, payload)`` per gzip member of a
    concatenation (the .warc.gz layout). A corrupt or truncated member, or
    bytes after the last member that are not NUL padding, come as one entry
    with an error message as ``payload``, and the walk stops there.

    One linear walk: the decompressor is fed memoryview slices of the
    archive, never the archive tail, so the bytes fed and copied are
    O(archive size) whatever the member count."""
    view = memoryview(b)
    n, pos = len(view), 0
    while view[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        parts: list[bytes] = []
        cur, step = pos, _MEMBER_SLICE
        try:
            while not d.eof and cur < n:
                parts.append(d.decompress(view[cur : cur + step]))
                cur, step = min(cur + step, n), step * 2
        except zlib.error as e:
            yield pos, n - pos, f"error: corrupt gzip member: {e}"
            return
        if not d.eof:
            yield pos, n - pos, "error: truncated gzip member"
            return
        end = cur - len(d.unused_data)
        yield pos, end - pos, b"".join(parts)
        pos = end
    if b[pos:].strip(b"\x00"):
        yield pos, n - pos, "error: trailing garbage after gzip members"


def _decode_body(body: bytes, content_type: str) -> str:
    m = _CHARSET_RE.search(content_type)
    if m:
        try:
            return body.decode(m.group(1), errors="replace")
        except (LookupError, ValueError):
            # unknown, or a codec that fails on any input (idna and punycode
            # refuse errors="replace"): read it as an undeclared page
            pass
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        return body.decode("latin-1")


def _mime(content_type: str) -> str:
    return content_type.split(";")[0].strip().lower()


def _is_http(headers: dict[str, str]) -> bool:
    """A ``response`` record wrapping an HTTP message, whose content is
    read by :func:`_http_head`."""
    return headers.get("warc-type") == "response" and headers.get(
        "content-type", ""
    ).startswith("application/http")


def _http_head(content: bytes) -> tuple[int | None, str | None, bytes]:
    """``(status, Content-Type, body)`` of an HTTP/1.x response block, with
    None for a missing Content-Type; a block that is not HTTP at all comes
    back ``(None, None, content)``."""
    head, sep, body = content.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = content.partition(b"\n\n")
    lines = head.split(b"\n")
    first = lines[0].strip()
    if not first.startswith(b"HTTP/"):
        return None, None, content
    parts = first.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    for ln in lines[1:]:
        k, _, v = ln.decode("latin-1").partition(":")
        if k.strip().lower() == "content-type":
            return status, v.strip(), body
    return status, None, body


def _resync(b: bytes, start: int) -> int:
    """Where the walk resumes after a broken record: the next ``WARC/``
    magic at or after ``start``, or the end of ``b``."""
    nxt = b.find(b"WARC/", start)
    return len(b) if nxt < 0 else nxt


def iter_records(
    b: bytes,
) -> Iterator[tuple[int, int, dict[str, str] | None, bytes | str]]:
    """``(start, end, headers, content)`` per record of concatenated
    (uncompressed) WARC records; ``b[start:end]`` is the whole record with
    the CR/LF run after it. Header names are trimmed and lower-cased, and
    the content is ``int(Content-Length)`` bytes.

    The walk is tolerant: a broken record comes with its error message as
    ``content`` and the headers read so far (None when it has no header
    block), and the walk resynchronizes at the next ``WARC/`` magic, so
    one bad record cannot sink an archive. :func:`located_records` walks
    each archive, or each of its gzip members, with this."""
    i, n = 0, len(b)
    while i < n:
        while i < n and b[i : i + 1] in (b"\r", b"\n"):
            i += 1
        if i >= n:
            return
        m = _VERSION_RE.match(b, i)
        if not m:
            end = _resync(b, i + 1)
            yield i, end, None, "error: no WARC version line"
            i = end
            continue
        hdr_end = b.find(b"\r\n\r\n", i)
        alt_end = b.find(b"\n\n", i)
        if hdr_end < 0 or (0 <= alt_end < hdr_end):
            hdr_end, skip = alt_end, 2
        else:
            skip = 4
        if hdr_end < 0:
            yield i, n, None, "error: unterminated header block"
            return
        headers: dict[str, str] = {}
        for ln in b[m.end() : hdr_end].split(b"\n"):
            k, sep, v = ln.decode("latin-1", "replace").partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            end = _resync(b, hdr_end)
            yield i, end, headers, "error: bad Content-Length"
            i = end
            continue
        body_start = hdr_end + skip
        end = body_start + length
        if end > n:
            yield i, n, headers, "error: truncated content block"
            return
        content = b[body_start:end]
        while end < n and b[end : end + 1] in (b"\r", b"\n"):
            end += 1
        yield i, end, headers, content
        i = end


def located_records(
    payload: bytes,
) -> Iterator[tuple[int, int, dict[str, str] | None, bytes | str]]:
    """``(offset, length, headers, content)`` per record of one archive,
    .warc or .warc.gz, as :func:`iter_records` gives them. In a plain
    archive ``payload[offset : offset + length]`` is the record; in a
    .warc.gz it is the gzip member holding it, and each member is walked on
    its own, so a record cut across members, or one whose Content-Length
    runs past its member, is a broken record of that member. A corrupt or
    truncated member, or garbage after the members, is one error entry
    (headers None) that ends the walk. The reader and the CDX index both
    map over this, so they read an archive the same way."""
    b = payload or b""
    if b[:2] != b"\x1f\x8b":
        for start, end, headers, content in iter_records(b):
            yield start, end - start, headers, content
        return
    for offset, length, member in _gzip_members(b):
        if isinstance(member, str):
            yield offset, length, None, member
            return
        for _, _, headers, content in iter_records(member):
            yield offset, length, headers, content


def _ids(headers: dict[str, str]) -> dict:
    return {
        "record_type": headers.get("warc-type", ""),
        "url": headers.get("warc-target-uri", ""),
        "warc_date": headers.get("warc-date", ""),
    }


def _record_row(headers: dict[str, str] | None, content: bytes | str) -> dict:
    """One record's reader row: an error row for a broken record."""
    if isinstance(content, str):
        return {"status": content} if headers is None else {"status": content, **_ids(headers)}
    status, ctype = None, headers.get("content-type", "")
    if _is_http(headers):
        status, ctype, content = _http_head(content)
        ctype = ctype or ""
    # resource / conversion / metadata / warcinfo: content is the payload
    return {
        **_ids(headers),
        "status": "ok",
        "http_status": status,
        "mime": _mime(ctype),
        "text": _decode_body(content, ctype),
    }


def parse_warc(payload: bytes) -> list[dict]:
    """All records of one archive (auto-detecting .warc vs .warc.gz): a
    broken record, or damaged gzip container, is an error row rather than
    an exception (errors are data in this engine, never stage-killers)."""
    return [_record_row(headers, content) for _, _, headers, content in located_records(payload)]


def _records_frame(archive: str, payload: bytes) -> pd.DataFrame:
    recs = parse_warc(payload)
    return pd.DataFrame(
        {
            "archive": archive,
            "record_idx": range(len(recs)),
            "record_type": [r.get("record_type") for r in recs],
            "url": [r.get("url") for r in recs],
            "warc_date": [r.get("warc_date") for r in recs],
            "http_status": pd.array(
                [r.get("http_status") for r in recs], dtype="Int32"
            ),
            "mime": [r.get("mime") for r in recs],
            "text": [r.get("text") for r in recs],
            "status": [r.get("status") for r in recs],
        }
    )


def parse_warc_column(
    archives: DataFrame, name_col: str = "archive", payload_col: str = "payload"
) -> DataFrame:
    """The parse kernel over any (name, binary-payload) DataFrame — shared
    by the binaryFile reader and in-memory fixture corpora (and by the
    driver-side VALUES oracle, which calls :func:`parse_warc` directly)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for name, payload in zip(pdf[name_col], pdf[payload_col]):
                yield _records_frame(name, bytes(payload or b""))

    return archives.select(
        F.col(name_col).alias(name_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(run, schema=WARC_RECORDS_SCHEMA)


def read_warc(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """Scan a directory of WARC archives into one record row per WARC
    record.  One binaryFile row per archive; the iterator-of-frames map
    emits each archive's records as their own Arrow batch, so memory is
    bounded by a single archive regardless of how many land in a task."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(F.col("path").alias("archive"), F.col("content").alias("payload"))
    )
    return parse_warc_column(files)


_HTML_MIMES = ("text/html", "application/xhtml+xml")


def warc_doc_id():
    """A record's document id, ``<archive file name>#<url>#<record_idx>``:
    unique even when a crawl revisits a URL or two archives hold the same
    URL at the same index. The file name, not the full path, keeps the ids
    of a resume from another mount the same."""
    name = F.regexp_extract("archive", r"[^/]*$", 0)
    return F.concat_ws("#", name, "url", F.col("record_idx").cast("string"))


def warc_to_documents(records: DataFrame) -> DataFrame:
    """HTML ``response`` records → the canonical ``documents(doc_id,
    spans)`` shape (doc_id from :func:`warc_doc_id`), ready for the
    extraction pipeline / read_documents consumers.  Pure Column
    expressions — the parse already happened."""
    keep = records.where(
        (F.col("status") == "ok")
        & (F.col("record_type") == "response")
        & F.col("mime").isin(*_HTML_MIMES)
        & (F.col("http_status") == 200)
    )
    return keep.select(
        warc_doc_id().alias("doc_id"), html_spans(F.col("text")).alias("spans")
    )


def read_warc_documents(
    spark: SparkSession, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """One-call crawl→corpus adapter: WARC directory in, extractable
    ``documents(doc_id, spans)`` out."""
    return warc_to_documents(read_warc(spark, path, glob))


# ---------------------------------------------------------------------------
# writer (fixtures/tests only) — independent forward composition
# ---------------------------------------------------------------------------


def _gzip_member(b: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(b) + co.flush()


def encode_warc(
    pages: list[dict],
    per_record_gzip: bool = False,
    warcinfo: str = "software: fixture-writer",
) -> bytes:
    """Compose an archive: one ``warcinfo`` record then one HTTP 200
    ``response`` record per page dict (``url``, ``html``, optional
    ``date``/``status``/``mime``/``charset``).  ``per_record_gzip=True``
    emits the Common Crawl member-per-record .warc.gz layout."""
    records: list[bytes] = []
    info_body = warcinfo.encode()
    records.append(
        _record(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Date", "2024-01-01T00:00:00Z"),
                ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
                ("Content-Type", "application/warc-fields"),
            ],
            info_body,
        )
    )
    for k, page in enumerate(pages):
        charset = page.get("charset", "utf-8")
        body = page["html"].encode(charset)
        status = page.get("status", 200)
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {page.get('mime', 'text/html')}; charset={charset}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1") + body
        records.append(
            _record(
                [
                    ("WARC-Type", "response"),
                    ("WARC-Target-URI", page["url"]),
                    ("WARC-Date", page.get("date", "2024-01-01T00:00:00Z")),
                    ("WARC-Record-ID", f"<urn:uuid:{k:08d}-0000-0000-0000-000000000000>"),
                    ("Content-Type", 'application/http; msgtype=response'),
                ],
                http,
            )
        )
    if per_record_gzip:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def _record(headers: list[tuple[str, str]], content: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        f"WARC/1.1\r\n{head}Content-Length: {len(content)}\r\n\r\n"
    ).encode("latin-1") + content + b"\r\n\r\n"
