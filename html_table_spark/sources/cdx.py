"""CDX indexing for WARC archives — the random-access companion format.

A 100-TB WARC corpus is a pile of sequential archives; what makes it
seekable is the CDX index every web archive ships beside it (Common
Crawl's ``cc-index``, the Internet Archive's CDX server): one row per
record carrying ``(urlkey, timestamp, url, mime, status, digest, offset,
length, filename)`` so a reader can fetch ONE record with a ranged read
— ``archive[offset : offset + length]`` is a complete gzip member
(.warc.gz) or a complete raw record (.warc).  This module builds that
index with the stdlib only:

* **offsets** come from the container walk itself: member start offsets
  in the COMPRESSED stream for .warc.gz (each record its own member, the
  Common Crawl layout), byte offsets in the raw stream for plain .warc —
  the random-access property is pinned by a test that slices the archive
  at ``(offset, length)`` and re-parses the single record;
* **urlkey** is the classic massaged URL (lowercased scheme/host,
  default-port drop, sorted query, fragment drop) — a deliberately
  independent Python restatement of the Spark-side
  ``functions/urls.url_canonical`` so index keys match the engine's
  URL-level dedup keys;
* **digest** is the SHA-1 of the record content block, base32 per the
  CDX convention;
* **timestamp** is the 14-digit form of ``WARC-Date``.

Scale design mirrors the reader: one Arrow batch pass, archives are the
unit of parallelism, the emitted index is record-count-sized rows of
small strings — the shape you bucket by urlkey and range-join.

Reference parity note: part of the source surface the build plan adds
beyond the reference (SURVEY.md §2 extension rows).
"""

from __future__ import annotations

import base64
import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the same record-magic and member walk the reader uses
from .warc import _VERSION_RE, iter_gzip_members

__all__ = ["cdx_records", "warc_cdx", "urlkey", "CDX_SCHEMA"]

CDX_SCHEMA = (
    "urlkey string, ts string, url string, mime string, "
    "http_status int, digest string, offset long, length long, "
    "archive string, record_type string"
)

_WS = re.compile(r"\s+")


def urlkey(url: str) -> str:
    """Classic CDX massaged-URL key (see module docstring) — keep in sync
    with the Spark-side ``functions/urls.url_canonical`` semantics."""
    u = url or ""
    u = u.split("#", 1)[0]
    m = re.match(r"^([^:/?#]+)://([^/?#]*)([^?#]*)(?:\?(.*))?$", u)
    if not m:
        return u
    scheme, auth, path, query = m.groups()
    userinfo, _, hostport = auth.rpartition("@")
    host, _, port = hostport.partition(":")
    scheme = scheme.lower()
    host = host.lower()
    if (scheme, port) in (("http", "80"), ("https", "443")) or not port:
        port_s = ""
    else:
        port_s = ":" + port
    path = re.sub(r"/{2,}", "/", path)
    path = re.sub(r"(.)/+$", r"\1", path) or "/"
    params = sorted(
        p for p in (query or "").split("&")
        if p and not re.match(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=", p)
    )
    q = "?" + "&".join(params) if params else ""
    user_s = userinfo + "@" if userinfo else ""
    return f"{scheme}://{user_s}{host}{port_s}{path}{q}"


def _record_fields(raw: bytes) -> dict:
    """Header + content fields of ONE raw record (already decompressed)."""
    m = _VERSION_RE.match(raw)
    if not m:
        return {"status": "error: no WARC version line"}
    hdr_end = raw.find(b"\r\n\r\n")
    skip = 4
    alt = raw.find(b"\n\n")
    if hdr_end < 0 or (0 <= alt < hdr_end):
        hdr_end, skip = alt, 2
    if hdr_end < 0:
        return {"status": "error: unterminated header block"}
    headers: dict[str, str] = {}
    for ln in raw[m.end(): hdr_end].split(b"\n"):
        k, sep, v = ln.decode("latin-1", "replace").partition(":")
        if sep:
            headers[k.strip().lower()] = v.strip()
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return {"status": "error: bad Content-Length"}
    content = raw[hdr_end + skip : hdr_end + skip + length]
    if len(content) < length:
        return {"status": "error: truncated content block"}
    status = mime = None
    if headers.get("warc-type") == "response" and headers.get(
        "content-type", ""
    ).startswith("application/http"):
        head = content.split(b"\r\n\r\n", 1)[0].split(b"\n")
        first = head[0].strip() if head else b""
        if first.startswith(b"HTTP/"):
            parts = first.split(None, 2)
            try:
                status = int(parts[1])
            except (IndexError, ValueError):
                status = None
            for ln in head[1:]:
                k, _, v = ln.decode("latin-1").partition(":")
                if k.strip().lower() == "content-type":
                    mime = v.split(";")[0].strip().lower()
                    break
    ts = re.sub(r"[^0-9]", "", headers.get("warc-date", ""))[:14]
    return {
        "status": "ok",
        "record_type": headers.get("warc-type", ""),
        "url": headers.get("warc-target-uri", ""),
        "ts": ts,
        "http_status": status,
        "mime": mime,
        "digest": base64.b32encode(hashlib.sha1(content).digest()).decode(),
    }


def _raw_slices(b: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, length, raw_record) per record of a PLAIN archive; length
    includes the trailing CRLF CRLF so the slice is the complete on-disk
    record."""
    i, n = 0, len(b)
    while i < n:
        while i < n and b[i : i + 1] in (b"\r", b"\n"):
            i += 1
        if i >= n:
            return
        if not _VERSION_RE.match(b, i):
            nxt = b.find(b"WARC/", i + 1)
            if nxt < 0:
                return
            i = nxt
            continue
        hdr_end = b.find(b"\r\n\r\n", i)
        skip = 4
        alt = b.find(b"\n\n", i)
        if hdr_end < 0 or (0 <= alt < hdr_end):
            hdr_end, skip = alt, 2
        if hdr_end < 0:
            return
        mlen = re.search(rb"(?im)^content-length:[ \t]*([0-9]+)[ \t]*$",
                         b[i:hdr_end])
        if not mlen:
            i = hdr_end + skip
            continue
        end = hdr_end + skip + int(mlen.group(1))
        while end < n and b[end : end + 1] in (b"\r", b"\n"):
            end += 1
        yield i, end - i, b[i:end]
        i = end


def cdx_records(archive: str, payload: bytes) -> list[dict]:
    """The CDX rows of one archive (auto-detecting layout); a hopeless
    archive yields [] (errors are the READER's concern — an index never
    invents entries for records it cannot locate)."""
    b = payload or b""
    rows: list[dict] = []
    try:
        slices = iter_gzip_members(b) if b[:2] == b"\x1f\x8b" else _raw_slices(b)
        for offset, length, raw in slices:
            f = _record_fields(raw)
            if f.get("status") != "ok":
                continue
            rows.append(
                {
                    "urlkey": urlkey(f["url"]) if f["url"] else "",
                    "ts": f["ts"],
                    "url": f["url"],
                    "mime": f["mime"],
                    "http_status": f["http_status"],
                    "digest": f["digest"],
                    "offset": offset,
                    "length": length,
                    "archive": archive,
                    "record_type": f["record_type"],
                }
            )
    except ValueError:
        pass  # corrupt container: index what was located, never invent
    return rows


def warc_cdx(
    archives: DataFrame, name_col: str = "archive", payload_col: str = "payload"
) -> DataFrame:
    """CDX index rows for a (name, payload) archive DataFrame — one Arrow
    batch pass, same parallelism unit as the reader."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["urlkey", "ts", "url", "mime", "http_status", "digest",
                "offset", "length", "archive", "record_type"]
        for pdf in it:
            for name, payload in zip(pdf[name_col], pdf[payload_col]):
                rows = cdx_records(name, bytes(payload or b""))
                frame = pd.DataFrame(rows, columns=cols)
                frame["http_status"] = frame["http_status"].astype("Int32")
                yield frame

    return archives.select(
        F.col(name_col).alias(name_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(run, schema=CDX_SCHEMA)
