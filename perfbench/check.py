"""Correctness check: the job's output rows against the generator's.

Each output row is reduced inside Spark to (doc_id, table_idx, status,
n_rows, n_cells, sha256 of its canonical span string) and collected; the
comparison is per document and ignores row order. A document fails when its
rows are missing, duplicated or differ, and so does any document id the
corpus does not have.
"""

from __future__ import annotations

import hashlib


def spans_sha_col():
    """The Spark twin of ``corpus.spans_sha``."""
    from pyspark.sql import functions as F

    nul = F.lit("\x00")
    joined = F.array_join(
        F.transform(
            F.coalesce(F.col("spans"), F.array()),
            lambda s: F.concat_ws(
                "\x1f",
                s["kind"],
                F.coalesce(s["text"], nul),
                F.coalesce(s["media_ref"], nul),
                s["offset"].cast("string"),
            ),
        ),
        "\x1e",
    )
    return F.sha2(joined, 256)


def row_keys(df) -> list[tuple]:
    """Collect the output rows of ``df`` as comparable keys."""
    rows = df.select("doc_id", "table_idx", "status", "n_rows", "n_cells", spans_sha_col().alias("sha")).collect()
    return [tuple(r) for r in rows]


def row_keys_leg(_name: str, df) -> list[tuple]:
    """``row_keys`` as a leg action of ``run_extraction_concurrent``."""
    return row_keys(df)


def compare(expected: dict[str, list[tuple]], actual: list[tuple]) -> dict:
    """Per-document comparison of row keys.

    ``expected`` maps doc_id -> sorted keys (``corpus.expected_keys``);
    ``actual`` is a flat list of keys in any order. Returns the number of
    documents attempted and failed, the failing ids, and an order-insensitive
    digest of each side."""
    got: dict[str, list[tuple]] = {}
    for key in actual:
        got.setdefault(key[0], []).append(key)
    failed = [d for d, rows in expected.items() if sorted(got.get(d, [])) != rows]
    failed += [d for d in got if d not in expected]
    return {
        "attempted": len(expected),
        "failed": len(failed),
        "failed_ids": sorted(failed, key=str)[:10],
        "rows": len(actual),
        "tables": sum(1 for key in actual if key[1] >= 0),
        "expected_rows": sum(len(r) for r in expected.values()),
        "digest": digest(actual),
        "expected_digest": digest([k for rows in expected.values() for k in rows]),
    }


def describe(checked: dict) -> str:
    return (
        f"check: rows={checked['rows']}/{checked['expected_rows']} digest={checked['digest']} "
        f"expected={checked['expected_digest']} failed_docs={checked['failed']} {checked['failed_ids']}"
    )


def digest(keys) -> str:
    h = hashlib.sha256()
    for key in sorted(keys, key=repr):
        h.update(repr(key).encode())
    return h.hexdigest()[:16]
