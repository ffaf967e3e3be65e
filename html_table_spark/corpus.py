"""Deterministic synthetic corpus of interleaved text+media documents.

BASELINE.json's input hint fixes the corpus shape:
``documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``
and instructs that the table be *synthesised deterministically at small
scale* — no external data.  Everything here derives from ``seed`` via
``random.Random``; same arguments → byte-identical corpus.

Document mix (exercises every pipeline path):
- multi-table docs built from the golden fixture templates with varied,
  seeded cell values (the extraction workload);
- media docs with ``<img data-media-ref>`` elements inside cells plus the
  matching ``kind='media'`` input spans (interleaving path, F13);
- junk docs with no table (error path);
- optional mega-documents with thousands of tables (skew path, F14) — these
  are what the salting / splitting machinery exists for.

Documents are written as plain Parquet via pyarrow (driver-side, no Spark
needed) so bench.py can materialize corpora before a session exists.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber basalt cobalt dune ember flint garnet"
).split()

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
CORPUS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(SPAN_TYPE))]
)


def _table_html(rng: random.Random, table_id: str, n_rows: int, n_cols: int,
                with_media: bool, media_refs: list[str]) -> str:
    header = [f"col_{c}" for c in range(n_cols)]
    parts = [f'<table id="{table_id}">\n<thead>\n<tr>']
    parts.extend(f"<th>{h}</th>" for h in header)
    parts.append("</tr>\n</thead>\n<tbody>\n")
    for r in range(n_rows):
        parts.append("<tr>")
        for c in range(n_cols):
            cell = f"{rng.choice(_WORDS)} {rng.randrange(10_000)}"
            attrs = ""
            if rng.random() < 0.06:
                attrs = f' colspan="{rng.randrange(2, 4)}"'
            elif rng.random() < 0.04:
                attrs = f' rowspan="{rng.randrange(2, 3)}"'
            media = ""
            if with_media and rng.random() < 0.08:
                ref = f"{table_id}-m{r}-{c}"
                media_refs.append(ref)
                media = f'<img data-media-ref="{ref}"/>'
            parts.append(f"<td{attrs}>{media}{cell}</td>")
        parts.append("</tr>\n")
    parts.append("</tbody>\n</table>")
    return "".join(parts)


def synthesize_documents(
    n_docs: int,
    seed: int = 42,
    tables_per_doc: tuple[int, int] = (1, 4),
    rows_per_table: tuple[int, int] = (3, 12),
    cols_per_table: tuple[int, int] = (2, 6),
    media_fraction: float = 0.25,
    junk_fraction: float = 0.03,
    mega_docs: int = 0,
    mega_tables: int = 2000,
) -> list[dict]:
    """Return corpus rows [{doc_id, spans}] — fully deterministic in seed.

    Note on media spans: the input ``kind='media'`` spans enumerate every
    media ref present in the HTML. Extraction output media spans are a
    SUBSET of these by design — reference combineArray semantics truncate
    grid rows to the header width (Parser.php:614-622), so a media cell
    pushed past the header by a rowspan/colspan carry is dropped along
    with its cell (~7% of media docs at defaults). Consumers must treat
    input media refs as a superset, never a completeness gate.
    """
    rows: list[dict] = []
    for d in range(n_docs):
        doc_id = f"doc{d:07d}"
        doc_rng = random.Random((seed << 20) ^ d)  # per-doc stream: order-independent
        if doc_rng.random() < junk_fraction:
            spans = [
                {
                    "kind": "text",
                    "text": f"<p>no tables here {doc_rng.randrange(1_000_000)}</p>",
                    "media_ref": None,
                    "offset": 0,
                }
            ]
            rows.append({"doc_id": doc_id, "spans": spans})
            continue
        with_media = doc_rng.random() < media_fraction
        n_tables = doc_rng.randrange(tables_per_doc[0], tables_per_doc[1] + 1)
        media_refs: list[str] = []
        spans = []
        offset = 0
        for t in range(n_tables):
            html = _table_html(
                doc_rng,
                f"{doc_id}-t{t}",
                doc_rng.randrange(rows_per_table[0], rows_per_table[1] + 1),
                doc_rng.randrange(cols_per_table[0], cols_per_table[1] + 1),
                with_media,
                media_refs,
            )
            spans.append(
                {"kind": "text", "text": html + "\n", "media_ref": None, "offset": offset}
            )
            offset += 1
        for ref in media_refs:
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
            offset += 1
        rows.append({"doc_id": doc_id, "spans": spans})

    for m in range(mega_docs):
        doc_id = f"mega{m:03d}"
        doc_rng = random.Random((seed << 20) ^ (1_000_000_007 + m))
        spans = []
        for t in range(mega_tables):
            html = _table_html(doc_rng, f"{doc_id}-t{t}", 4, 4, False, [])
            spans.append(
                {"kind": "text", "text": html + "\n", "media_ref": None, "offset": t}
            )
        rows.append({"doc_id": doc_id, "spans": spans})
    return rows


def write_corpus_dir(rows: list[dict], path: str, n_shards: int = 32) -> str:
    """Write the corpus as a directory of ``n_shards`` Parquet files.

    A single small file caps the scan at ONE task (Spark splits parquet by
    file byte ranges), serializing the scan + first shuffle regardless of
    cluster size — at 100 TB the corpus is inherently many files, so the
    bench corpus must be too. Shards are round-robin so mega-docs spread.
    """
    os.makedirs(path, exist_ok=True)
    for shard in range(n_shards):
        part = rows[shard::n_shards]
        table = pa.Table.from_pylist(part, schema=CORPUS_SCHEMA)
        pq.write_table(
            table, os.path.join(path, f"part-{shard:05d}.parquet"), row_group_size=256
        )
    return path


def fixture_documents() -> list[dict]:
    """The F01–F15 fixtures as corpus documents (doc_id = fixture id) for
    end-to-end Spark tests; media fixture F13 includes its input media
    spans."""
    from .fixtures import F13_MEDIA_REFS, FIXTURES, f14_mega_doc_html
    from .spans import html_to_doc_spans

    rows = []
    for fixture_id, (html, _cfg) in FIXTURES.items():
        refs = F13_MEDIA_REFS if fixture_id == "F13" else None
        rows.append({"doc_id": fixture_id, "spans": html_to_doc_spans(html, refs)})
    rows.append(
        {"doc_id": "F14", "spans": html_to_doc_spans(f14_mega_doc_html(200))}
    )
    return rows
