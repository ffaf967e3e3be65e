"""Page metadata extraction: title / meta / OpenGraph / canonical / lang.

Every production crawl pipeline records document metadata beside the
extracted content (dates for dedup tie-breaks, canonical URLs for URL-level
dedup, OpenGraph fields for quality signals, declared language to route
language ID).  This operator pulls the standard set from the same tolerant
DOM the extraction kernel parses — one Arrow-batched zero-shuffle pass,
errors as rows.

Extracted fields (all nullable strings):

* ``title``        — first ``<title>`` text, whitespace-collapsed
* ``description``  — ``<meta name="description" content=...>``
* ``author``       — ``<meta name="author">``
* ``keywords``     — ``<meta name="keywords">``
* ``canonical``    — ``<link rel="canonical" href=...>``
* ``base_href``    — ``<base href=...>``
* ``og_title`` / ``og_description`` / ``og_image`` / ``og_type``
                   — ``<meta property="og:*">`` (OpenGraph)
* ``lang``         — nearest ``lang`` attribute on a root/``html`` element
* ``charset``      — ``<meta charset>`` or the http-equiv Content-Type form

First occurrence wins for every field (document order), matching browser
and crawler behavior for duplicated tags.

Reference parity note: the reference library (bakame-php/html-table) reads
only tables; metadata extraction is part of the corpus-pipeline surface
the build plan adds beyond the reference (SURVEY.md §2 extension rows).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..htmldom import ELEMENT, parse_html

__all__ = ["extract_page_meta", "page_metadata", "PAGE_META_SCHEMA", "META_FIELDS"]

META_FIELDS = (
    "title", "description", "author", "keywords", "canonical", "base_href",
    "og_title", "og_description", "og_image", "og_type", "lang", "charset",
)

PAGE_META_SCHEMA = "doc_id string, " + ", ".join(
    f"{f} string" for f in META_FIELDS
) + ", status string"

_WS = re.compile(r"\s+")

_NAME_FIELDS = {"description": "description", "author": "author",
                "keywords": "keywords"}
_OG_FIELDS = {"og:title": "og_title", "og:description": "og_description",
              "og:image": "og_image", "og:type": "og_type"}
_CHARSET_IN_CT = re.compile(r"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.I)


def extract_page_meta(html: str) -> dict[str, str | None]:
    """The kernel: first-wins metadata fields from one HTML document."""
    root, _errors = parse_html(html or "")
    out: dict[str, str | None] = {f: None for f in META_FIELDS}

    def put(field: str, value: str | None) -> None:
        if value and out[field] is None:
            out[field] = value

    stack = list(reversed([c for c in root.children if type(c) is not str]))
    while stack:
        node = stack.pop()
        if type(node) is str or node.kind != ELEMENT:
            continue
        tag = node.tag
        if tag == "title":
            put("title", _WS.sub(" ", node.text_content()).strip())
        elif tag == "meta":
            name = node.get_attribute("name").strip().lower()
            prop = node.get_attribute("property").strip().lower()
            content = node.get_attribute("content").strip()
            if name in _NAME_FIELDS:
                put(_NAME_FIELDS[name], content)
            if prop in _OG_FIELDS:
                put(_OG_FIELDS[prop], content)
            if node.get_attribute("charset"):
                put("charset", node.get_attribute("charset").strip().lower())
            elif node.get_attribute("http-equiv").strip().lower() == "content-type":
                m = _CHARSET_IN_CT.search(content)
                if m:
                    put("charset", m.group(1).lower())
        elif tag == "link":
            rels = node.get_attribute("rel").strip().lower().split()
            if "canonical" in rels:
                put("canonical", node.get_attribute("href").strip())
        elif tag == "base":
            put("base_href", node.get_attribute("href").strip())
        # the html element comes first, so its lang wins; else the first
        # lang declared anywhere
        if node.get_attribute("lang"):
            put("lang", node.get_attribute("lang").strip())
        stack.extend(
            reversed([c for c in node.children if type(c) is not str])
        )
    return out


def page_metadata(
    docs: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(doc_id, <META_FIELDS...>, status) — one Arrow-batched zero-shuffle
    pass over the corpus; a failing document degrades to an error row."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, h in zip(pdf[id_col], pdf[html_col]):
                try:
                    m = extract_page_meta(h)
                    rows.append({"doc_id": i, **m, "status": "ok"})
                except Exception as e:  # noqa: BLE001 - error-as-row policy
                    rows.append(
                        {"doc_id": i, **{f: None for f in META_FIELDS},
                         "status": f"error: {e}"}
                    )
            yield pd.DataFrame(rows, columns=["doc_id", *META_FIELDS, "status"])

    return docs.select(
        F.col(id_col).alias(id_col), F.col(html_col).alias(html_col)
    ).mapInPandas(run, schema=PAGE_META_SCHEMA)
