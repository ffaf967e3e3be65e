"""CDX indexing for WARC archives — the random-access companion format.

A 100-TB WARC corpus is a pile of sequential archives; what makes it
seekable is the CDX index every web archive ships beside it (Common
Crawl's ``cc-index``, the Internet Archive's CDX server): one row per
record carrying ``(urlkey, timestamp, url, mime, status, digest, offset,
length, filename)`` so a reader can fetch ONE record with a ranged read
— ``archive[offset : offset + length]`` is a complete gzip member
(.warc.gz) or a complete raw record (.warc).  This module builds that
index with the stdlib only:

* **records** are the reader's: the index maps over the reader's own
  archive walk (``warc.located_records``: gzip members, header rule,
  resync) and HTTP head, so it lists every record the reader reads as
  ``ok`` and no other (a test checks both directions);
* **offsets** come from that walk: member start offsets in the
  COMPRESSED stream for .warc.gz (each record its own member, the
  Common Crawl layout), byte offsets in the raw stream for plain .warc,
  the record plus the CR/LF run after it; the random-access property is
  pinned by a test that slices the archive at ``(offset, length)`` and
  re-parses the single record;
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

# the reader's archive walk and HTTP head
from .warc import _http_head, _is_http, _mime, located_records

__all__ = ["cdx_records", "warc_cdx", "urlkey", "CDX_SCHEMA"]

CDX_SCHEMA = (
    "urlkey string, ts string, url string, mime string, "
    "http_status int, digest string, offset long, length long, "
    "archive string, record_type string"
)

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


def cdx_records(archive: str, payload: bytes) -> list[dict]:
    """The CDX rows of one archive (auto-detecting layout): one per record
    the reader reads. Broken records and damaged members are the READER's
    concern (it reports them as error rows); the index never invents
    entries for them, and a hopeless archive yields the rows located
    before the damage."""
    rows: list[dict] = []
    for offset, length, headers, content in located_records(payload):
        if isinstance(content, str):
            continue
        status = mime = None
        if _is_http(headers):
            status, ctype, _ = _http_head(content)
            mime = ctype and _mime(ctype)  # None without a Content-Type
        url = headers.get("warc-target-uri", "")
        rows.append(
            {
                "urlkey": urlkey(url) if url else "",
                "ts": re.sub(r"[^0-9]", "", headers.get("warc-date", ""))[:14],
                "url": url,
                "mime": mime,
                "http_status": status,
                "digest": base64.b32encode(hashlib.sha1(content).digest()).decode(),
                "offset": offset,
                "length": length,
                "archive": archive,
                "record_type": headers.get("warc-type", ""),
            }
        )
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
